import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_relieffc_fselection_spark.operators.knn import knn_join
from spark_relieffc_fselection_spark.operators.relief import (
    collision_table,
    explode_pairs,
    fit_relief,
    greedy_select,
    joint_counts,
    pair_table,
    std_ranking,
)
from tests.oracle_relief import (
    collision_stats_oracle,
    marginal_counts,
    relevance_weights,
    relief_relevance_oracle,
)


@pytest.fixture(scope="module")
def labeled(spark):
    rng = np.random.default_rng(11)
    n, d = 80, 6
    X = rng.normal(size=(n, d)).round(3)
    y = (X[:, 0] + 0.5 * X[:, 1] > 0).astype(float)  # features 0,1 informative
    rows = [(i, X[i].tolist(), float(y[i])) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, features array<double>, label double")
    return df, X, y


def _long_pairs(df, k):
    neigh = knn_join(df, df, k)
    return explode_pairs(pair_table(df, neigh))


def test_relevance_matches_numpy_oracle(spark, labeled):
    df, X, y = labeled
    num_neighbors = 4
    n_classes = len(np.unique(y))
    lp = _long_pairs(df, num_neighbors * n_classes)
    priors = {float(l): (y == l).mean() for l in np.unique(y)}
    got = relevance_weights(lp, priors).orderBy("feature_idx").collect()
    expected = relief_relevance_oracle(X, y, num_neighbors)
    assert len(got) == X.shape[1]
    for r in got:
        assert abs(r["relevance"] - expected[r["feature_idx"]]) < 1e-9


def test_informative_features_rank_top(spark, labeled):
    df, X, y = labeled
    res = fit_relief(
        df,
        num_top_features=2,
        num_neighbors=5,
        estimation_ratio=1.0,
        batch_size=1.0,
        redundancy_removal=False,
        seed=42,
    )
    assert set(res.std_selection) == {0, 1}


def test_collision_stats_match_oracle(spark, labeled):
    df, X, y = labeled
    num_neighbors, ldt = 3, 0.8
    n_classes = len(np.unique(y))
    lp = _long_pairs(df, num_neighbors * n_classes)
    coll = collision_table(lp, continuous=True, lower_distance_threshold=ldt)
    top = {0, 1, 2}
    marg = {r["feature_idx"]: r["marginal"] for r in marginal_counts(coll).collect()}
    joint = {
        (r["f1"], r["f2"]): r["joint"]
        for r in joint_counts(coll, sorted(top), continuous=True).collect()
    }
    exp_marg, exp_joint, _ = collision_stats_oracle(X, y, num_neighbors, ldt, top)
    for f, v in marg.items():
        assert abs(v - exp_marg[f]) < 1e-9
    assert set(joint) == set(exp_joint)
    for k_, v in joint.items():
        assert abs(v - exp_joint[k_]) < 1e-9


def test_greedy_select_demotes_redundant_copy(spark):
    """A duplicated informative feature must be demoted under
    redundancy removal (SURVEY §5 property-test item 2)."""
    relevance = np.array([1.0, 0.98, 0.5, 0.2])
    # features 0 and 1 are near-duplicates: huge mutual redundancy
    coo = {(0, 1): 1.0, (1, 0): 1.0, (0, 2): 0.01, (2, 0): 0.01}
    sel = greedy_select(relevance, coo, 3)
    assert sel[0] == 0
    assert sel[1] == 2  # not the redundant copy (1)
    assert 1 not in sel[:2]


def test_std_ranking_tiebreak():
    r = np.array([0.5, 0.9, 0.9, 0.1])
    assert std_ranking(r, 3) == [1, 2, 0]


def test_fit_relief_batched_runs(spark, labeled):
    df, X, y = labeled
    res = fit_relief(
        df,
        num_top_features=3,
        num_neighbors=3,
        estimation_ratio=1.0,
        batch_size=0.5,  # 2 batches -> joint stats flow
        redundancy_removal=True,
        seed=7,
    )
    assert len(res.std_selection) == 3
    assert len(res.redundancy_selection) == 3
    assert res.n_features == X.shape[1]
    assert 0 in res.std_selection  # informative feature survives batching


def test_feature_bin_stats_matches_separate_aggregations(spark, labeled):
    """The fused one-pass stats must be bit-identical to the separate
    relevance_weights / marginal_counts / collision-count plans; the
    relevance side goes through the fits' driver collapse
    (_collapse_bins_local) over the collected bins."""
    from spark_relieffc_fselection_spark.operators.relief import (
        _collapse_bins_local,
        feature_bin_stats,
    )

    df, X, y = labeled
    lp = _long_pairs(df, 6)
    priors = {float(l): (y == l).mean() for l in np.unique(y)}
    pair_counts = (
        lp.select("query_id", "neighbor_id", "n_label", "same_class")
        .distinct()
        .groupBy("n_label", "same_class")
        .agg(F.count("*").alias("bin_cnt"))
    )
    bins = feature_bin_stats(lp, continuous=True, lower_distance_threshold=0.8)

    w_fused, _ = _collapse_bins_local(
        (
            (r["feature_idx"], r["n_label"], r["same_class"], r["bin_sum"], r["vote_sum"])
            for r in bins.collect()
        ),
        {(r["n_label"], r["same_class"]): r["bin_cnt"] for r in pair_counts.collect()},
        priors,
    )
    w_sep = {
        r["feature_idx"]: r["relevance"]
        for r in relevance_weights(lp, priors, pair_counts).collect()
    }
    assert w_fused == w_sep

    coll = collision_table(lp, continuous=True, lower_distance_threshold=0.8)
    m_fused = {
        r["feature_idx"]: r["m"]
        for r in bins.groupBy("feature_idx")
        .agg(F.sum("vote_sum").cast("double").alias("m"))
        .collect()
    }
    m_sep = {r["feature_idx"]: r["marginal"] for r in marginal_counts(coll).collect()}
    assert m_fused == m_sep

    c_fused = {
        r["feature_idx"]: r["n"]
        for r in bins.groupBy("feature_idx")
        .agg(F.sum("n_collisions").alias("n"))
        .collect()
    }
    c_sep = {
        r["feature_idx"]: r["n"]
        for r in coll.groupBy("feature_idx").agg(F.count("*").alias("n")).collect()
    }
    assert c_fused == c_sep


def test_joint_from_pairs_identical_to_generic_path(spark, labeled):
    """joint_counts_from_pairs must be EXACTLY equal (not approximately)
    to the self-join reference, joint_counts over
    collision_table(explode_pairs(...)): same IEEE expressions, same
    decimal aggregation tail, so the faster plan is a pure physical
    substitution. Checked continuous and discrete, with and without a
    top-feature scope, on both of its plans (per-pair combination
    arrays, and the wide-space self-join fallback)."""
    from spark_relieffc_fselection_spark.operators.relief import (
        joint_counts_from_pairs,
    )

    df, X, y = labeled
    k = 3 * len(np.unique(y))
    neigh = knn_join(df, df, k)
    pairs = pair_table(df, neigh).cache()
    lp = explode_pairs(pairs)
    for continuous, ldt in ((True, 0.8), (True, 0.95), (False, 0.8)):
        for top in (None, [0, 2, 4]):
            coll = collision_table(
                lp, continuous=continuous, lower_distance_threshold=ldt
            )
            reference = {
                (r["f1"], r["f2"]): r["joint"]
                for r in joint_counts(coll, top, continuous=continuous).collect()
            }
            for num_features in (X.shape[1], 10**6):
                fast = {
                    (r["f1"], r["f2"]): r["joint"]
                    for r in joint_counts_from_pairs(
                        pairs, top, continuous=continuous,
                        lower_distance_threshold=ldt, num_features=num_features,
                    ).collect()
                }
                assert reference == fast, (continuous, ldt, top, num_features)
    pairs.unpersist()


def test_fit_relief_empty_input_raises_clearly(spark):
    """An empty dataset must fail with an explicit ValueError, not a
    numpy zero-size-reduction traceback (the reference NPEs on its
    head() sniff, ReliefFRSelector.scala:210)."""
    empty = spark.createDataFrame([], "id long, features array<double>, label double")
    with pytest.raises(ValueError, match="non-empty"):
        fit_relief(empty, num_top_features=3, num_neighbors=2)


@pytest.mark.parametrize(
    "fit, kwargs, param",
    [
        ("dense", dict(num_top_features=0), "num_top_features"),
        ("dense", dict(num_top_features=-1), "num_top_features"),
        # numpy used to fail inside the kernel with a bare IndexError,
        # numpy-gemm used to return no neighbours and fit on zero pairs
        ("dense", dict(num_neighbors=0, knn_strategy="numpy"), "num_neighbors"),
        ("dense", dict(num_neighbors=0, knn_strategy="numpy-gemm"), "num_neighbors"),
        ("sparse", dict(num_top_features=0), "num_top_features"),
        ("sparse", dict(num_neighbors=0), "num_neighbors"),
        ("estimator", dict(numTopFeatures=0), "num_top_features"),
        ("estimator", dict(numNeighbors=0), "num_neighbors"),
    ],
)
def test_fits_reject_counts_below_one_before_any_job(
    spark, labeled, fit, kwargs, param
):
    """num_top_features and num_neighbors below 1 fail with a
    ValueError naming the parameter, before the fit runs a Spark job;
    the Estimator inherits the check from the fit it routes to."""
    from spark_relieffc_fselection_spark.ml import ReliefFSelector
    from spark_relieffc_fselection_spark.operators.relief_sparse import (
        fit_relief_sparse,
        to_long_form,
    )

    df, X, _ = labeled
    long_df, labels = to_long_form(df)
    sc = spark.sparkContext
    group = f"test-reject-counts-{fit}-{sorted(kwargs.items())}"
    sc.setJobGroup(group, "count validation")
    try:
        with pytest.raises(ValueError, match=param):
            if fit == "dense":
                fit_relief(df, **kwargs)
            elif fit == "sparse":
                fit_relief_sparse(long_df, labels, X.shape[1], **kwargs)
            else:
                ReliefFSelector(**kwargs).fit(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_fit_relief_lsh_strategy_overlaps_exact(spark):
    """VERDICT r3 #8: the LSH kNN tier driven through the FULL fit —
    its top-k must overlap heavily with the exact numpy kernel's (the
    tier trades exact neighbors for bounded candidate sets; with
    informative features the ranking must survive that)."""
    rng = np.random.default_rng(23)
    n, d = 300, 8
    X = rng.normal(size=(n, d)).round(3)
    y = (X[:, 0] + 0.7 * X[:, 1] - 0.5 * X[:, 2] > 0).astype(float)
    rows = [(i, X[i].tolist(), float(y[i])) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, features array<double>, label double")

    def top(strategy):
        return fit_relief(
            df,
            num_top_features=4,
            num_neighbors=5,
            estimation_ratio=0.5,
            batch_size=1.0,
            redundancy_removal=False,
            seed=5,
            knn_strategy=strategy,
        ).std_selection

    exact = top("numpy")
    lsh = top("lsh")
    assert len(lsh) == 4
    overlap = len(set(exact) & set(lsh))
    assert overlap >= 3, (exact, lsh)
    # the informative trio dominates under both kernels
    assert set(exact[:2]) <= {0, 1, 2}
    assert set(lsh[:2]) <= {0, 1, 2}


def test_fit_relief_hash_batching_mode(spark):
    """batching='hash' splits the sample deterministically (id % n):
    two runs agree exactly, and an unknown mode raises."""
    import numpy as np
    import pytest

    from spark_relieffc_fselection_spark.operators.relief import fit_relief
    from spark_relieffc_fselection_spark.queries.relief_q import _embeddings

    from tests.conftest import SF_DIR

    inst = _embeddings(spark, SF_DIR)
    kwargs = dict(
        num_top_features=5, num_neighbors=3, estimation_ratio=1.0,
        batch_size=0.5, redundancy_removal=True, seed=42,
        knn_strategy="numpy", batching="hash",
    )
    a = fit_relief(inst, **kwargs)
    b = fit_relief(inst, **kwargs)
    assert a.std_selection == b.std_selection
    assert a.redundancy_selection == b.redundancy_selection
    assert np.array_equal(a.relevance, b.relevance)
    with pytest.raises(ValueError, match="batching"):
        fit_relief(inst, batching="nope")


def test_auto_escalation_to_lsh_is_surfaced(spark, labeled, monkeypatch):
    """knn_strategy='auto' resolving to the approximate LSH tier must
    be RECORDED on the result and WARNED about (VERDICT r8 #2): the
    escalation changes answers (recall ~0.70 on continuous data), so a
    100 TB fit may never cross the exactness boundary silently."""
    import warnings

    from spark_relieffc_fselection_spark.operators import knn as knn_mod

    df, _, _ = labeled
    kwargs = dict(
        num_top_features=2, num_neighbors=3, estimation_ratio=1.0,
        batch_size=1.0, redundancy_removal=False, seed=42,
        knn_strategy="auto",
    )
    # tiny data resolves to the exact tier: NO warning, field says so
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        res = fit_relief(df, **kwargs)
    assert res.resolved_knn_strategy == "numpy"

    # collapse the escalation boundaries: 'auto' now lands on 'lsh'
    monkeypatch.setattr(knn_mod, "_AUTO_GEMM_CELLS", 0)
    monkeypatch.setattr(knn_mod, "_AUTO_LSH_CELLS", 0)
    with pytest.warns(UserWarning, match="escalated to the APPROXIMATE 'lsh'"):
        res = fit_relief(df, **kwargs)
    assert res.resolved_knn_strategy == "lsh"


def test_pinned_strategy_is_echoed_back(spark, labeled):
    """A pinned (non-auto) strategy reports itself verbatim — the audit
    field is total, not escalation-only."""
    df, _, _ = labeled
    res = fit_relief(
        df, num_top_features=2, num_neighbors=3, estimation_ratio=1.0,
        batch_size=1.0, redundancy_removal=False, seed=42, knn_strategy="sql",
    )
    assert res.resolved_knn_strategy == "sql"


def test_fit_lsh_probe_radius_escalation(spark, labeled):
    """lsh_probe_radius reaches the fit's approximate tier: radius 2
    still recovers the planted signal on the labeled fixture, and the
    resolved strategy records the approximate tier."""
    df, _, _ = labeled
    res = fit_relief(
        df, num_top_features=2, num_neighbors=5, estimation_ratio=1.0,
        batch_size=1.0, redundancy_removal=False, seed=42,
        knn_strategy="lsh", lsh_probe_radius=2,
    )
    assert set(res.std_selection) == {0, 1}
    assert res.resolved_knn_strategy == "lsh"


def test_fit_lsh_tables_override(spark, labeled):
    """lsh_tables is the second escalation knob (tables re-hash the
    scan side): an override reaches the fit's approximate tier and
    full coverage still recovers the planted signal."""
    df, _, _ = labeled
    res = fit_relief(
        df, num_top_features=2, num_neighbors=5, estimation_ratio=1.0,
        batch_size=1.0, redundancy_removal=False, seed=42,
        knn_strategy="lsh", lsh_tables=2, lsh_probe_radius=2,
    )
    assert len(res.std_selection) == 2  # runs end-to-end at 2 tables
    res_full = fit_relief(
        df, num_top_features=2, num_neighbors=5, estimation_ratio=1.0,
        batch_size=1.0, redundancy_removal=False, seed=42,
        knn_strategy="lsh", lsh_tables=8, lsh_probe_radius=2,
    )
    assert set(res_full.std_selection) == {0, 1}


def test_decimal_cast_replay_parity_probe(spark):
    """CI-resident form of the r12 1M-sample decimal-cast probe
    (VERDICT r12 #8): Decimal(repr(x)).quantize(1E-18, HALF_UP) must
    reproduce Spark's CAST(double AS DECIMAL(38,18)) bit-for-bit on
    THIS platform — the assumption _collapse_bins_local's driver
    replay of sum(cast(contrib as decimal)) rests on. Fixed-seed
    contrib-shaped magnitudes, one Spark job."""
    import random
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import functions as F

    rng = random.Random(20260817)
    xs = []
    for _ in range(50_000):
        # contrib magnitudes span ~1e-12..1e6, both signs, plus exact
        # binary fractions and ties near the 1e-18 quantize boundary
        mag = 10.0 ** rng.uniform(-12, 6)
        xs.append(rng.choice([-1.0, 1.0]) * rng.random() * mag)
    xs.extend([0.0, 1.0, -1.0, 2.0**-60, -(2.0**-60), 1e-19, -1e-19])
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    rows = df.select(
        "x", F.col("x").cast("decimal(38,18)").alias("d")
    ).collect()
    q18 = Decimal("1E-18")
    mismatches = [
        (r["x"], r["d"], Decimal(repr(r["x"])).quantize(q18, ROUND_HALF_UP))
        for r in rows
        if r["d"] != Decimal(repr(r["x"])).quantize(q18, ROUND_HALF_UP)
    ]
    assert not mismatches, mismatches[:5]


def test_dense_numpy_fit_job_count_pinned(spark, labeled):
    """A single-batch dense fit with the exact numpy kNN issues 4 Spark
    jobs, counted by the status tracker under a dedicated job group: the
    profiling collect (its AQE stage job and the final one), the one
    Arrow fetch of the batch, and the stats collect, one job over the
    pair kernel's tasks: the statistics are reduced where the
    neighbours are found (no rank shuffle, no pair joins, no exploded
    pair table, no hash aggregate)."""
    df, _, _ = labeled
    sc = spark.sparkContext
    group = "test-dense-numpy-fit-jobs"
    sc.setJobGroup(group, "dense numpy fit job-count pin")
    try:
        fit_relief(
            df,
            num_top_features=2,
            num_neighbors=5,
            estimation_ratio=1.0,
            batch_size=1.0,
            redundancy_removal=False,
            seed=42,
            knn_strategy="numpy",
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 4


def _hash_batched_fit_jobs(spark, df, strategy: str) -> int:
    """Spark jobs of the two-batch hash-batched fit with redundancy
    removal, counted under a dedicated job group."""
    sc = spark.sparkContext
    group = f"test-dense-hash-batched-fit-jobs-{strategy}"
    sc.setJobGroup(group, "dense hash-batched fit job-count pin")
    try:
        fit_relief(
            df,
            num_top_features=3,
            num_neighbors=3,
            estimation_ratio=1.0,
            batch_size=0.5,
            batching="hash",
            redundancy_removal=True,
            seed=7,
            knn_strategy=strategy,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_dense_hash_batched_fit_job_count_pinned(spark, labeled):
    """The two-batch hash-batched dense fit with redundancy removal
    issues 9 Spark jobs (same job-group count as the single-batch pin
    above): the profiling collect (2 jobs), one Arrow fetch per batch,
    ONE stats collect for both batches (one job: it also fills the
    kernels' row-pair caches) and ONE joint/MI collect (4 jobs: the AQE
    stage jobs of the joint kernels' partial sums, the mirror and the
    marginal joins), whose rows become the redundancy COO on the
    driver. A change to the batch engine that adds or drops an action
    shows here."""
    assert _hash_batched_fit_jobs(spark, labeled[0], "numpy") == 9


def test_dense_sql_hash_batched_fit_job_count_pinned(spark, labeled):
    """The same fit on the sql tier runs the same actions through the
    same pair kernel (the batch cache fills under the batch's Arrow
    fetch): 17 jobs. The extra ones are the AQE stage jobs of its kNN
    cross join and window and of the kernel's id repartition under the
    stats collect (6 jobs instead of 1), and one more under the MI
    collect (5)."""
    assert _hash_batched_fit_jobs(spark, labeled[0], "sql") == 17


def _fit_jobs(spark, group: str, fit) -> list[list[str]]:
    """Run ``fit`` under a job group; the stage names of each job it
    issued, in job order."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fit()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    # past spark.ui.retainedStages, a long session's status store evicts
    # stage infos (getStageInfo gives None): name the stages it kept
    infos = [
        [tracker.getStageInfo(st) for st in tracker.getJobInfo(j).stageIds]
        for j in sorted(tracker.getJobIdsForGroup(group))
    ]
    return [[info.name for info in job if info is not None] for job in infos]


@pytest.mark.parametrize("strategy", ["numpy", "numpy-gemm", "sql", "lsh"])
def test_fit_rejects_duplicate_ids_at_the_batch_fetch(spark, labeled, strategy):
    """Repeated ids used to multiply rows silently through the pair
    joins. Every tier's pair builder holds every id of the batch on the
    driver, so it names the repeats there: the fit's last job is that
    fetch, and no kNN, pair or stats job runs after it."""
    df, _, _ = labeled
    dup = df.unionByName(df.filter(F.col("id").isin(17, 42)))

    def fit():
        with pytest.raises(ValueError, match=r"2 duplicate 'id' value\(s\).*: 17, 42"):
            fit_relief(
                dup, num_top_features=2, num_neighbors=3, estimation_ratio=1.0,
                batch_size=1.0, knn_strategy=strategy,
            )

    jobs = _fit_jobs(spark, f"test-duplicate-ids-{strategy}", fit)
    fetches = [i for i, stages in enumerate(jobs) if any("toArrow" in n for n in stages)]
    assert fetches == [len(jobs) - 1]


@pytest.mark.parametrize("strategy", ["numpy", "numpy-gemm", "sql", "lsh"])
@pytest.mark.parametrize(
    "bad_row, match",
    [
        ((None, [0.0, 1.0, 2.0], 1.0), "null 'id'"),
        ((99, None, 1.0), "null 'features' array"),
        ((99, [0.0, 1.0], 1.0), "ragged"),
        ((99, [0.0, None, 2.0], 1.0), "null element"),
    ],
)
def test_fit_rejects_malformed_rows_on_both_exact_tiers(spark, strategy, bad_row, match):
    """Every tier, the two exact ones and sql/lsh alike, reads the batch
    through the one checked Arrow fetch, so a null id, a null or ragged
    feature array or a null element fails with a named error instead of
    a reshape error or a silent fit."""
    rows = [(i, [float(i % 3), float(i % 5), float(i % 7)], float(i % 2)) for i in range(30)]
    df = spark.createDataFrame(
        rows + [bad_row], "id long, features array<double>, label double"
    ).coalesce(1)
    with pytest.raises(ValueError, match=match):
        fit_relief(
            df, num_top_features=2, num_neighbors=2, estimation_ratio=1.0,
            batch_size=1.0, knn_strategy=strategy,
        )


@pytest.mark.parametrize("strategy", ["numpy", "sql"])
@pytest.mark.parametrize(
    "value, kind",
    [
        (float("nan"), "NaN"),
        (float("inf"), r"\+inf"),
        (float("-inf"), "-inf"),
        (2.0**52, r"\|x\| >= 2\^52"),
    ],
)
def test_fit_rejects_values_outside_the_exact_domain_at_the_batch_fetch(
    spark, strategy, value, kind
):
    """The pair kernel's statistics are exact decimal sums over finite
    values below 2^52. A NaN or an infinity used to cast to NULL and
    drop out of the sums silently; from 2^52 on a difference can leave
    the range where the kernel's cast equals Spark's. The fetched batch
    matrix is checked before the broadcast: the error names the
    feature column and counts the values, and no job runs after the
    fetch."""
    rows = [(i, [float(i % 3), float(i % 5), float(i % 7)], float(i % 2)) for i in range(30)]
    rows[4] = (4, [1.0, 2.0, value], 0.0)
    rows[9] = (9, [1.0, 2.0, value], 1.0)
    df = spark.createDataFrame(rows, "id long, features array<double>, label double")

    def fit():
        with pytest.raises(
            ValueError,
            match=(
                r"knn: 2 value\(s\) of 'features' on the fit batch are outside the exact "
                rf"domain \(finite, \|x\| < 2\^52\): 2 {kind}; feature column\(s\) 2 \(2\)$"
            ),
        ):
            fit_relief(
                df, num_top_features=2, num_neighbors=2, estimation_ratio=1.0,
                batch_size=1.0, knn_strategy=strategy,
            )

    jobs = _fit_jobs(spark, f"test-exact-domain-{strategy}-{value}", fit)
    fetches = [i for i, stages in enumerate(jobs) if any("toArrow" in n for n in stages)]
    assert fetches == [len(jobs) - 1], jobs


def test_pair_kernel_decimal_cast_equals_sparks_cast(spark):
    """The kernel casts every difference and vote the way Spark's
    ``cast(x AS decimal(38,18))`` does, bit for bit, over its domain:
    ~200k doubles from 2^-1074 to 2^52 (every binary exponent, with
    most samples where the cast is not 0), decimal-looking values of
    every length, and the 18th place's half-way points."""
    import pandas as pd

    from spark_relieffc_fselection_spark.operators.relief import _dec18_units

    rng = np.random.default_rng(20261019)
    x = np.concatenate(
        [
            np.ldexp(rng.uniform(1, 2, 50_000), rng.integers(-1074, 52, 50_000)),
            np.ldexp(rng.uniform(1, 2, 100_000), rng.integers(-70, 52, 100_000)),
            np.concatenate([np.round(rng.uniform(0, 1e3, 2_000), k) for k in range(20)]),
            np.array([float(f"{m}5e-19") for m in rng.integers(0, 10**6, 10_000)]),
            [0.0, 5e-324, 2.2250738585072014e-308, 5e-19, 1.5e-18, 0.1 + 0.2, 2.0**52 - 1],
        ]
    )
    x = np.concatenate([x, -x[:1000]])
    df = spark.createDataFrame(pd.DataFrame({"i": np.arange(len(x)), "x": x}))
    spark_dec = (
        df.orderBy("i").select(F.col("x").cast("decimal(38,18)").alias("d")).toArrow().column(0)
    ).combine_chunks()
    want = np.frombuffer(spark_dec.buffers()[1], dtype=np.int64)[
        2 * spark_dec.offset : 2 * (spark_dec.offset + len(spark_dec))
    ].reshape(-1, 2)
    got = _dec18_units(x)
    bad = np.flatnonzero((got != want).any(axis=1))
    assert spark_dec.null_count == 0
    assert len(bad) == 0, [repr(v) for v in x[bad[:5]]]


def test_fit_builds_no_pair_table(spark, labeled, monkeypatch):
    """The fit reduces its pairs inside the kernel tasks: it calls none
    of the pair-table operators, and the rows it caches carry no
    feature vectors, on every tier, with redundancy removal on."""
    from spark_relieffc_fselection_spark.operators import relief

    def banned(*_args, **_kwargs):
        raise AssertionError("the fit built a pair table")

    for name in ("pair_table", "explode_pairs", "feature_bin_stats", "joint_counts_from_pairs"):
        monkeypatch.setattr(relief, name, banned)
    df, _, _ = labeled
    cached = []
    real_cache = type(df).cache

    def cache(frame):
        cached.append(frame.schema)
        return real_cache(frame)

    monkeypatch.setattr(type(df), "cache", cache)
    for strategy in ("numpy", "numpy-gemm", "sql", "lsh"):
        fit_relief(
            df, num_top_features=2, num_neighbors=3, estimation_ratio=1.0,
            batch_size=0.5, batching="hash", knn_strategy=strategy,
        )
    pair_caches = [s for s in cached if "qi" in s.names]
    assert len(pair_caches) == 8
    assert not any(
        f.dataType.typeName() == "array" for s in pair_caches for f in s.fields
    ), pair_caches


def _with_null_labels(spark):
    rows = [(i, [float(i % 3), float(i % 5), float(i % 7)], float(i % 2)) for i in range(30)]
    return spark.createDataFrame(
        rows + [(97, [1.0, 2.0, 3.0], None), (98, [0.0, 1.0, 2.0], None)],
        "id long, features array<double>, label double",
    ).coalesce(1)


def test_fit_relief_rejects_null_labels_in_the_profiling_job(spark):
    """A null label is its own class row of the profiling groupBy, so it
    fails by name there — it used to end in a bare TypeError from
    ``float(None)`` — and the profiling job is the fit's only job."""

    def fit():
        with pytest.raises(ValueError, match=r"fit_relief: 2 null 'label' value\(s\)"):
            fit_relief(
                _with_null_labels(spark), num_top_features=2, num_neighbors=2,
                estimation_ratio=1.0, batch_size=1.0,
            )

    jobs = _fit_jobs(spark, "test-null-labels", fit)
    assert len(jobs) == 1, jobs


def test_fit_relief_sparse_rejects_null_labels(spark):
    from spark_relieffc_fselection_spark.operators.relief_sparse import (
        fit_relief_sparse,
        to_long_form,
    )

    long_df, labels = to_long_form(_with_null_labels(spark))
    with pytest.raises(ValueError, match=r"fit_relief_sparse: 2 null 'label' value\(s\)"):
        fit_relief_sparse(long_df, labels, 3, num_top_features=2, num_neighbors=2)


def test_estimator_rejects_null_labels(spark):
    from spark_relieffc_fselection_spark.ml import ReliefFSelector

    with pytest.raises(ValueError, match=r"2 null '\w*label' value\(s\)"):
        ReliefFSelector(numTopFeatures=2, numNeighbors=2).fit(_with_null_labels(spark))


def _one_class_rows() -> list:
    return [(i, [float(i % 3), float(i % 5), float(i % 7), float(i % 4)], 1.0) for i in range(30)]


def _one_class(spark):
    return spark.createDataFrame(
        _one_class_rows(), "id long, features array<double>, label double"
    ).coalesce(1)


def test_fit_relief_rejects_a_single_class_in_the_profiling_job(spark):
    """With one class every neighbour is a hit: a 30x4 one-class fit
    used to return weights with no error. The profiling rows hold the
    classes, so it fails by name there, and that job is the fit's only
    job."""

    def fit():
        with pytest.raises(ValueError, match=r"fit_relief: 'label' has a single class \(1\.0\)"):
            fit_relief(
                _one_class(spark), num_top_features=2, num_neighbors=2,
                estimation_ratio=1.0, batch_size=1.0,
            )

    jobs = _fit_jobs(spark, "test-single-class", fit)
    assert len(jobs) == 1, jobs


def test_fit_relief_sparse_rejects_a_single_class(spark):
    from spark_relieffc_fselection_spark.operators.relief_sparse import (
        fit_relief_sparse,
        to_long_form,
    )

    long_df, labels = to_long_form(_one_class(spark))

    def fit():
        with pytest.raises(
            ValueError, match=r"fit_relief_sparse: 'label' has a single class \(1\.0\)"
        ):
            fit_relief_sparse(long_df, labels, 4, num_top_features=2, num_neighbors=2)

    jobs = _fit_jobs(spark, "test-single-class-sparse", fit)
    assert len(jobs) == 1, jobs


@pytest.mark.parametrize("route", ["dense", "sparse"])
def test_estimator_rejects_a_single_class(spark, route):
    from pyspark.ml.linalg import SparseVector

    from spark_relieffc_fselection_spark.ml import ReliefFSelector

    df = _one_class(spark)
    if route == "sparse":
        df = spark.createDataFrame(
            [
                (SparseVector(len(x), {j: v for j, v in enumerate(x) if v}), lbl)
                for _, x, lbl in _one_class_rows()
            ],
            ["features", "label"],
        )
    with pytest.raises(ValueError, match=r"'label' has a single class \(1\.0\)"):
        ReliefFSelector(numTopFeatures=2, numNeighbors=2).fit(df)


@pytest.mark.parametrize("strategy", ["numpy", "numpy-gemm", "sql", "lsh"])
def test_fit_rejects_a_null_first_array_in_the_profiling_job(spark, strategy):
    """The feature width comes from the first non-null array, and the
    profiling job also counts null arrays, so a null array fails by name
    on every tier — also in the first row, which used to end in a bare
    TypeError — and the profiling job is the fit's only job."""
    rows = [(i, [float(i % 3), float(i % 5), float(i % 7)], float(i % 2)) for i in range(30)]
    df = spark.createDataFrame(
        [(99, None, 1.0)] + rows, "id long, features array<double>, label double"
    ).coalesce(1)

    def fit():
        with pytest.raises(ValueError, match=r"1 null 'features' array"):
            fit_relief(
                df, num_top_features=2, num_neighbors=2, estimation_ratio=1.0,
                batch_size=1.0, knn_strategy=strategy,
            )

    jobs = _fit_jobs(spark, f"test-null-first-array-{strategy}", fit)
    assert len(jobs) == 1, jobs


@pytest.mark.parametrize("strategy", ["numpy", "sql", "sparse"])
def test_three_hash_batches_replay_the_scope_chain_past_an_empty_batch(spark, labeled, strategy):
    """Three hash batches with ids = 0 or 2 (mod 3): batch 1 is empty.
    Batch 0's joint scope is empty, the empty batch keeps batch 0's
    top-3, so batch 2's joint is scoped to it, and the joint union of
    all three batches feeds the MI. The expected values are the
    per-batch engine's (one probe and one cached joint per batch, in
    sequence), which this fit must reproduce exactly. The sparse fit
    (``strategy='sparse'``, the same rows in long form; the fixture has
    no zeros) reproduces the same values through its own kNN."""
    from spark_relieffc_fselection_spark.operators.relief_sparse import (
        fit_relief_sparse,
        to_long_form,
    )

    _, X, y = labeled
    ids = [3 * (i // 2) + 2 * (i % 2) for i in range(len(y))]
    df = spark.createDataFrame(
        [(ids[i], X[i].tolist(), float(y[i])) for i in range(len(y))],
        "id long, features array<double>, label double",
    )
    kwargs = dict(
        num_top_features=3, num_neighbors=3, batch_size=0.3,
        lower_feature_threshold=1.0, redundancy_removal=True,
    )
    if strategy == "sparse":
        res = fit_relief_sparse(*to_long_form(df), X.shape[1], **kwargs)
    else:
        res = fit_relief(
            df, estimation_ratio=1.0, batching="hash", knn_strategy=strategy, **kwargs
        )
    assert res.n_batches == 3
    assert res.std_selection == [0, 4, 5]
    assert res.redundancy_selection == [0, 1, 2]
    assert [float(v) for v in res.relevance] == [
        1.0, 0.12767835886371007, 0.0805352281017754, 0.0,
        0.37292427136694956, 0.26614910463941444,
    ]
    # batch 0's top-3 is {0, 4, 5}: every entry touches it
    assert res.redundancy_coo == {
        (0, 1): 0.03565400671218221, (0, 2): 0.02833993655663358,
        (0, 3): 0.030305288664696287, (0, 4): 1.0, (0, 5): 0.9220193809125794,
        (1, 0): 0.03565400671218221, (1, 4): 0.033972486219396386, (1, 5): 0.0,
        (2, 0): 0.02833993655663358, (2, 4): 0.022317198512595497,
        (2, 5): 0.003876820039498254, (3, 0): 0.030305288664696287,
        (3, 4): 0.007325912966319972, (3, 5): 0.015090560027890401,
        (4, 0): 1.0, (4, 1): 0.033972486219396386, (4, 2): 0.022317198512595497,
        (4, 3): 0.007325912966319972, (4, 5): 0.8652400472324117,
        (5, 0): 0.9220193809125794, (5, 1): 0.0, (5, 2): 0.003876820039498254,
        (5, 3): 0.015090560027890401, (5, 4): 0.8652400472324117,
    }
