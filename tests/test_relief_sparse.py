import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_relieffc_fselection_spark.operators.knn import knn_join
from spark_relieffc_fselection_spark.operators.relief import (
    explode_pairs,
    pair_table,
)
from spark_relieffc_fselection_spark.operators.relief_sparse import (
    fit_relief_sparse,
    sparse_knn_join,
    sparse_pair_feature_table,
    to_long_form,
)
from tests.oracle_relief import relevance_weights


@pytest.fixture(scope="module")
def sparse_fixture(spark):
    """Gaussian data with ~70% exact zeros (no accidental nonzero==0,
    so dense and sparse paths must agree bit-for-bit on relevance)."""
    rng = np.random.default_rng(21)
    n, d = 60, 10
    X = rng.normal(loc=3.0, size=(n, d))  # offset: no zeros among actives
    mask = rng.random((n, d)) < 0.7
    X[mask] = 0.0
    y = (X[:, 0] > 0).astype(float)
    rows = [(i, X[i].tolist(), float(y[i])) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, features array<double>, label double")
    return df, X, y


def test_sparse_knn_matches_dense(spark, sparse_fixture):
    df, X, y = sparse_fixture
    long_df, labels = to_long_form(df)
    k = 5
    dense = knn_join(df, df, k, strategy="sql").orderBy("query_id", "rank").collect()
    sparse = (
        sparse_knn_join(long_df, labels, labels.select("id"), k)
        .orderBy("query_id", "rank")
        .collect()
    )
    assert [(r["query_id"], r["neighbor_id"]) for r in dense] == [
        (r["query_id"], r["neighbor_id"]) for r in sparse
    ]
    for a, b in zip(dense, sparse):
        assert abs(a["distance"] - b["distance"]) < 1e-9


def test_sparse_pair_table_matches_dense_relevance(spark, sparse_fixture):
    df, X, y = sparse_fixture
    long_df, labels = to_long_form(df)
    k = 6
    priors = {float(l): float((y == l).mean()) for l in np.unique(y)}

    dense_lp = explode_pairs(pair_table(df, knn_join(df, df, k, strategy="sql")))
    dense_w = {
        r["feature_idx"]: r["relevance"]
        for r in relevance_weights(dense_lp, priors).collect()
    }
    from tests.oracle_relief import _pair_bin_counts

    sparse_neigh = sparse_knn_join(long_df, labels, labels.select("id"), k)
    sparse_lp = sparse_pair_feature_table(long_df, labels, sparse_neigh)
    sparse_w = {
        r["feature_idx"]: r["relevance"]
        for r in relevance_weights(
            sparse_lp, priors, pair_counts=_pair_bin_counts(sparse_neigh, labels)
        ).collect()
    }
    # sparse path omits zero-zero feature slots, which contribute 0 to
    # bin sums; the collapse divisor is the per-bin PAIR count (the
    # reference's classCounter), so dense and sparse agree exactly.
    for f in dense_w:
        assert abs(dense_w[f] - sparse_w.get(f, 0.0)) < 1e-9, f


def test_pair_bin_counts_preserve_every_neighbor_row(spark, sparse_fixture):
    """_pair_bin_counts' label joins must keep every neighbor row: the
    sparse fits recover n_pairs as sum(bin_cnt) instead of counting the
    neighbor table."""
    from tests.oracle_relief import _pair_bin_counts

    df, _, _ = sparse_fixture
    long_df, labels = to_long_form(df)
    neigh = sparse_knn_join(long_df, labels, labels.select("id"), 5).cache()
    n_rows = neigh.count()
    bins = _pair_bin_counts(neigh, labels).agg(F.sum("bin_cnt")).first()[0]
    neigh.unpersist()
    assert n_rows > 0
    assert bins == n_rows


def test_sparse_pair_table_union_matches_full_outer(spark, sparse_fixture):
    """r12 rewrite pin: sparse_pair_feature_table's tagged-union +
    max() aggregate must reproduce the former full_outer-join
    formulation ROW FOR ROW (same pair set, same fdist bits, same
    label columns) — the rewrite's whole claim is plan shape, not
    semantics."""
    df, X, y = sparse_fixture
    long_df, labels = to_long_form(df)
    neigh = sparse_knn_join(long_df, labels, labels.select("id"), 4).cache()
    neigh.count()

    new_rows = sparse_pair_feature_table(long_df, labels, neigh).collect()

    # the pre-r12 formulation, inline: full_outer q-side/n-side merge,
    # labels via the pairs frame referenced three times
    pairs = (
        neigh.select("query_id", "neighbor_id")
        .join(labels.select(F.col("id").alias("query_id"), F.col("label").alias("q_label")), "query_id")
        .join(labels.select(F.col("id").alias("neighbor_id"), F.col("label").alias("n_label")), "neighbor_id")
        .withColumn("same_class", F.col("n_label") == F.col("q_label"))
    )
    q_side = pairs.join(
        long_df.select(F.col("id").alias("query_id"), "feature_idx", F.col("value").alias("q_val")),
        "query_id",
    ).select("query_id", "neighbor_id", "feature_idx", "q_val")
    n_side = pairs.join(
        long_df.select(F.col("id").alias("neighbor_id"), "feature_idx", F.col("value").alias("n_val")),
        "neighbor_id",
    ).select("query_id", "neighbor_id", "feature_idx", "n_val")
    merged = q_side.join(
        n_side, ["query_id", "neighbor_id", "feature_idx"], "full_outer"
    ).select(
        "query_id",
        "neighbor_id",
        "feature_idx",
        F.abs(
            F.coalesce(F.col("q_val"), F.lit(0.0))
            - F.coalesce(F.col("n_val"), F.lit(0.0))
        ).alias("fdist"),
    )
    old_rows = merged.join(
        pairs.select("query_id", "neighbor_id", "n_label", "same_class"),
        ["query_id", "neighbor_id"],
    ).collect()

    key = lambda r: (r["query_id"], r["neighbor_id"], r["feature_idx"])
    new_map = {key(r): r for r in new_rows}
    old_map = {key(r): r for r in old_rows}
    assert set(new_map) == set(old_map)
    for k, old in old_map.items():
        new = new_map[k]
        assert new["fdist"] == old["fdist"], k  # bit-exact, not approx
        assert new["n_label"] == old["n_label"] and new["same_class"] == old["same_class"], k
    neigh.unpersist()


def test_fit_relief_sparse_end_to_end(spark, sparse_fixture):
    df, X, y = sparse_fixture
    long_df, labels = to_long_form(df)
    res = fit_relief_sparse(
        long_df, labels, n_features=X.shape[1],
        num_top_features=3, num_neighbors=4,
        redundancy_removal=True,
    )
    assert len(res.std_selection) == 3
    assert 0 in res.std_selection  # informative feature found
    assert res.n_instances == len(X)


def _two_of_fifty(ids=range(120)):
    """2 active features of 50 per row; ids 120-124 are all-zero rows."""
    rng = np.random.default_rng(11)
    rows = []
    for i in ids:
        f1, f2 = rng.choice(50, size=2, replace=False)
        rows.append((i, int(f1), round(float(rng.normal()), 3)))
        rows.append((i, int(f2), round(float(rng.normal()), 3)))
    return rows


def _rounding_tie():
    """40 tiny-norm rows, each on its own feature, with norms falling as
    the id rises, and one row of norm^2 1e16 on feature 0:
    1e16 + n_sq rounds to 1e16 for every tiny row, so all 40 tie at
    distance 1e8 from it and ids 0, 1, 2 must win — not the smallest
    norms 39, 38, 37, which a norm-ordered candidate list holds first."""
    return [(i, i + 1, (40 - i) * 0.01) for i in range(40)] + [(40, 0, 1e8)]


def _binary(ids=range(90)):
    """Value 1.0 on 1-3 of 30 features per row: norm^2 is the nnz count,
    so the corpus falls into a few norm runs of ~30 rows whose
    no-overlap distances tie within the run (the kddb one-hot shape);
    labels add five all-zero rows."""
    rng = np.random.default_rng(5)
    return [
        (i, int(f), 1.0) for i in ids for f in rng.choice(30, size=1 + i % 3, replace=False)
    ]


def _tie_across_norm_runs():
    """Like :func:`_rounding_tie`, but the tied tiny rows form two norm
    runs: ids 10-11 (norm^2 1e-4) sort before ids 0-3 (norm^2 4e-4),
    so the norm-order prefix of the big row's k + 1 = 4 candidates ends
    inside the second run, and its winners 0, 1, 2 need the rest of
    that run, past the prefix."""
    return (
        [(i, i + 1, 0.01) for i in (10, 11)]
        + [(i, i + 1, 0.02) for i in range(4)]
        + [(40, 0, 1e8)]
    )


#: name -> (long rows, label ids, query ids or None for all, k, exclude_self)
_KNN_FIXTURES = {
    "rounding-tie": (_rounding_tie(), range(41), None, 3, True),
    "tie-across-norm-runs": (_tie_across_norm_runs(), [0, 1, 2, 3, 10, 11, 40], None, 3, True),
    "integer-ties": (
        [(i, f, float((i + f) % 3)) for i in range(30) for f in range(4) if (i + f) % 3],
        range(30), None, 5, True,
    ),
    "all-zero-rows": (_two_of_fifty(), range(125), None, 7, True),
    "query-subset": (_two_of_fifty(), range(125), range(0, 125, 5), 7, True),
    "negative-ids": (
        [(i - 60, f, v) for i, f, v in _two_of_fifty()], range(-60, 65), None, 4, True,
    ),
    "keep-self": (_two_of_fifty(), range(125), range(0, 125, 3), 4, False),
    "k-covers-corpus": (_two_of_fifty(range(8)), range(10), None, 9, True),
    "everyone-shares-f0": (
        [(i, 0, 1.0 + (i % 7) / 10.0) for i in range(40)]
        + [(i, 1 + i % 5, 0.5) for i in range(40)],
        range(40), None, 6, True,
    ),
    "no-queries": (_two_of_fifty(), range(125), [], 4, True),
    "binary-values": (_binary(), range(95), None, 5, True),
    "ids-absent-from-labels": (
        _two_of_fifty(range(130)), range(125), list(range(0, 130, 4)), 5, True,
    ),
}


@pytest.mark.parametrize("fixture", list(_KNN_FIXTURES))
def test_sparse_knn_join_matches_brute_force_oracle(spark, fixture):
    """sparse_knn_join returns exactly the brute-force kNN in Spark's
    decimal arithmetic (tests/oracle_relief.sparse_knn_oracle): every
    pair scored, ties by id, distances bit for bit — on ties (integer,
    rounding, and binary rows' equal norms), all-zero rows, negative
    ids, a query subset (the q44 shape), self kept, k >= rows - 1,
    every row sharing one feature, an empty query set and long rows
    whose ids are not in ``labels``."""
    from tests.oracle_relief import sparse_knn_oracle

    rows, label_ids, query_ids, k, exclude_self = _KNN_FIXTURES[fixture]
    label_ids = list(label_ids)
    query_ids = label_ids if query_ids is None else list(query_ids)
    long_df = spark.createDataFrame(rows, "id long, feature_idx int, value double")
    labels = spark.createDataFrame(
        [(i, float(i % 3)) for i in label_ids], "id long, label double"
    )
    queries = spark.createDataFrame([(i,) for i in query_ids], "id long")
    got = sorted(
        (
            tuple(r)
            for r in sparse_knn_join(
                long_df, labels, queries, k, exclude_self=exclude_self
            ).select("query_id", "neighbor_id", "distance", "rank").collect()
        ),
        key=lambda r: (r[0], r[3]),
    )
    want = sparse_knn_oracle(rows, label_ids, query_ids, k, exclude_self)
    assert got == want
    assert len(want) > 0 or fixture == "no-queries"


def test_merge_takes_at_most_cap_rows_from_a_tied_norm_run(monkeypatch):
    """3 all-zero rows and 5000 rows of norm^2 1 that share no feature:
    every norm-1 row ties every other, so extending the prefix through
    its last row's ties would read the whole run per query. The merge
    reads at most 2 x (k + 1) candidates per query — the prefix of
    k + 1 rows and at most k + 1 more from the tied run — and still
    returns the brute-force top k by
    (distance, id)."""
    from spark_relieffc_fselection_spark.operators import relief_sparse as rs

    n, k = 5000, 4
    ids = np.r_[np.arange(n)[::-1], 1000000, 1000001, 1000002].astype(np.int64)
    sq = np.r_[np.ones(n), np.zeros(3)]
    corpus = rs._Corpus.of(ids, sq)
    read, merge = [], rs._sparse_merge

    def counting(best_d, best_i, qi, cand_i, cand_d, kk):
        read.append(np.bincount(qi, minlength=len(best_d)))
        return merge(best_d, best_i, qi, cand_i, cand_d, kk)

    monkeypatch.setattr(rs, "_sparse_merge", counting)
    q = np.r_[np.arange(0, n, 97), 1000001].astype(np.int64)
    out = rs._merge_queries(
        [q, np.zeros_like(q), np.ones(len(q), dtype=bool), np.zeros(len(q))],
        corpus, k, True,
    )
    assert read[0].max() <= 2 * (k + 1)
    got = sorted(zip(*(out.column(c).to_pylist() for c in range(4))))
    q_sq = dict(zip(ids.tolist(), sq.tolist()))
    want = []
    for qid in q.tolist():
        cand = sorted(
            (float(np.sqrt(q_sq[qid] + q_sq[i])), i) for i in ids.tolist() if i != qid
        )[:k]
        want += [(qid, i, d, r + 1) for r, (d, i) in enumerate(cand)]
    assert got == sorted(want)


def test_compress_long_matches_dense_slice(spark):
    """Long-form transform == dense vector slice on the same data."""
    from spark_relieffc_fselection_spark.operators.relief_sparse import (
        compress_long,
        to_long_form,
    )

    rows = [(i, [float(i), 0.0, float(i * 2), 3.0, 0.0], 0.0) for i in range(6)]
    df = spark.createDataFrame(rows, "id long, features array<double>, label double")
    long_df, _ = to_long_form(df)
    got = compress_long(long_df, [2, 0]).collect()
    # kept features renumber ascending: 0 -> 0, 2 -> 1; zero slots absent
    expect = set()
    for i in range(6):
        if i != 0:
            expect.add((i, 0, float(i)))       # orig f0
            expect.add((i, 1, float(i * 2)))   # orig f2
    assert {(r["id"], r["feature_idx"], r["value"]) for r in got} == expect


def test_sparse_fit_wide_feature_space(spark):
    """The reference claims 'millions of features' (README.md:11, kddb
    ~30M); the engine's sparse path must be indifferent to NOMINAL
    width — cost rides the nonzero count only. 200k-wide rows with
    ~40 actives each: the fit completes through the inverted-index
    kNN + long-form aggregation, and the planted high-contrast
    features (one mid-space, one at the last index) rank top-2 in the
    std selection. num_neighbors is set so k = 160 exceeds the
    same-class population (150): the reference's GLOBAL top-k
    neighborhood (not per-class, SURVEY §7.3) then necessarily
    contains misses, giving the planted features strictly positive
    relevance — with an all-hit neighborhood their relevance is
    exactly 0, indistinguishable from never-active features (which is
    faithful dense-RELIEF behavior, not a sparse-path artifact).
    No dense vector is ever materialized."""
    rng = np.random.default_rng(7)
    n, d = 300, 200_000
    sig_a, sig_b = 123_456, d - 1
    rows = []
    for i in range(n):
        label = float(i % 2)
        active = {int(f): float(v) for f, v in zip(
            rng.choice(d - 2, size=40, replace=False),
            rng.normal(loc=3.0, scale=0.3, size=40),
        )}
        # planted signal: strongly label-separated values, always active
        active[sig_a] = 6.0 if label else 1.0
        active[sig_b] = 6.0 if label else 1.0
        for f, v in active.items():
            rows.append((i, f, v))
    long_df = spark.createDataFrame(
        rows, "id long, feature_idx int, value double"
    )
    labels = spark.createDataFrame(
        [(i, float(i % 2)) for i in range(n)], "id long, label double"
    )
    res = fit_relief_sparse(
        long_df, labels, n_features=d,
        num_top_features=5, num_neighbors=80, redundancy_removal=True,
    )
    assert len(res.relevance) == d
    assert res.relevance[sig_a] > 0 and res.relevance[sig_b] > 0
    assert set(res.std_selection[:2]) == {sig_a, sig_b}
    # the greedy anti-redundancy pass must still surface both planted
    # features (they collide with everything, but nothing beats them)
    assert sig_a in res.redundancy_selection


def test_sparse_batched_fit_matches_dense_hash_batched(spark):
    """batch_size<1.0 wires the sparse path into the reference's batch
    loop (topFeatures feedback, union-reduce, jointTotal discount —
    ReliefFRSelector.scala:273-283, 641). On ZERO-FREE data the long
    form is lossless, sparse kNN ranks identically to dense (proven by
    test_sparse_knn_matches_dense) and every aggregate is decimal-
    exact, so the batched sparse fit must reproduce the batched dense
    fit bit-for-bit: same selections, same weights, same batch count."""
    from spark_relieffc_fselection_spark.operators.relief import fit_relief

    rng = np.random.default_rng(8)
    n, d = 48, 8
    X = rng.normal(loc=3.0, size=(n, d))  # no zeros: long form is total
    y = (X[:, 2] > 3.0).astype(float)
    rows = [(i, X[i].tolist(), float(y[i])) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, features array<double>, label double")
    long_df, labels = to_long_form(df)

    dense = fit_relief(
        df, num_top_features=3, num_neighbors=3,
        estimation_ratio=1.0, batch_size=0.5, batching="hash",
        redundancy_removal=True, knn_strategy="numpy", seed=7,
    )
    sparse = fit_relief_sparse(
        long_df, labels, n_features=d,
        num_top_features=3, num_neighbors=3,
        redundancy_removal=True, batch_size=0.5,
    )
    assert sparse.n_batches == dense.n_batches == 2
    assert sparse.std_selection == dense.std_selection
    assert sparse.redundancy_selection == dense.redundancy_selection
    assert np.allclose(sparse.relevance, dense.relevance, atol=1e-9)
    assert sparse.priors == dense.priors


def test_sparse_batched_fit_on_sparse_data(spark, sparse_fixture):
    """Batched fit on genuinely sparse input: the loop must stay
    sparse-semantics (absent zero-zero slots) end-to-end and still
    recover the informative feature; single-pass remains the default
    and is untouched by the new parameter."""
    df, X, y = sparse_fixture
    long_df, labels = to_long_form(df)
    res = fit_relief_sparse(
        long_df, labels, n_features=X.shape[1],
        num_top_features=3, num_neighbors=4,
        redundancy_removal=True, batch_size=0.5,
    )
    assert res.n_batches == 2
    assert len(res.std_selection) == 3
    assert len(res.redundancy_selection) == 3
    assert 0 in res.std_selection  # informative feature survives batching
    single = fit_relief_sparse(
        long_df, labels, n_features=X.shape[1],
        num_top_features=3, num_neighbors=4,
        redundancy_removal=True,
    )
    assert single.n_batches == 1


def test_sparse_sampled_batched_fit_matches_dense(spark):
    """estimation_ratio threading (ADVICE r8): a sparse fit whose long
    table was hash-sampled upstream at ratio r must discount jointTotal
    by (1 - r * batchPerc) like the reference (ReliefFRSelector.scala:
    642) — on zero-free data the result is then bit-for-bit the dense
    sampled+batched hash fit (the q72d-gated mode).

    The dense fit computes priors PRE-sampling while the sparse caller
    hands in post-sampling labels, so the fixture assigns labels such
    that the md5 draw preserves the exact 50/50 class balance — priors
    coincide by construction and the only ratio-sensitive quantity
    left is the jointTotal discount under test."""
    import hashlib

    from spark_relieffc_fselection_spark.operators.relief import fit_relief
    from spark_relieffc_fselection_spark.operators.sampling import hash_uniform

    ratio = 0.5

    def draw(i: int) -> float:  # hash_uniform's documented law
        return (int(hashlib.md5(str(i).encode()).hexdigest()[3:9], 16) + 0.5) / 16777216.0

    ids = list(range(400))
    sampled_ids = [i for i in ids if draw(i) < ratio]
    unsampled_ids = [i for i in ids if draw(i) >= ratio]
    # 24 ids per (sampled?, class) cell -> pre == post priors == 0.5
    chosen = sampled_ids[:48] + unsampled_ids[:48]
    label = {}
    for pool in (sampled_ids[:48], unsampled_ids[:48]):
        for j, i in enumerate(pool):
            label[i] = float(j % 2)

    rng = np.random.default_rng(13)
    d = 8
    rows = [
        (i, (rng.normal(loc=3.0, size=d) + label[i]).round(3).tolist(), label[i])
        for i in chosen
    ]
    df = spark.createDataFrame(rows, "id long, features array<double>, label double")

    dense = fit_relief(
        df, num_top_features=3, num_neighbors=3,
        estimation_ratio=ratio, sampling="hash",
        batch_size=0.5, batching="hash",
        redundancy_removal=True, knn_strategy="numpy", seed=7,
    )
    sampled = df.filter(hash_uniform(F.col("id")) < ratio)
    long_df, labels = to_long_form(sampled)
    sparse = fit_relief_sparse(
        long_df, labels, n_features=d,
        num_top_features=3, num_neighbors=3,
        redundancy_removal=True, batch_size=0.5,
        estimation_ratio=ratio,
    )
    assert dense.priors == sparse.priors == {0.0: 0.5, 1.0: 0.5}
    assert sparse.n_batches == dense.n_batches == 2
    assert sparse.std_selection == dense.std_selection
    assert sparse.redundancy_selection == dense.redundancy_selection
    assert np.allclose(sparse.relevance, dense.relevance, atol=1e-9)


def test_coo_ranking_and_greedy_match_dense():
    """The one std_ranking / greedy_select answers the same on a dense
    ndarray and on the equivalent SparseRelevance, and both equal the
    plain numpy oracles (tests/oracle_relief.py), on randomized
    fixtures spanning empty/partial/full activity, plus k=0, k>n, an
    empty input and an all-absent input. The finalize's one min-max
    rule (absent features carry raw 0.0) produces both
    representations, value for value."""
    from spark_relieffc_fselection_spark.operators import relief
    from spark_relieffc_fselection_spark.operators.relief import (
        SparseRelevance,
        _finalize_relevance,
        greedy_select,
    )
    from tests.oracle_relief import greedy_oracle, minmax_oracle, std_ranking_oracle

    def both(raw, n, k):
        dense, dense_std = _finalize_relevance(raw, n, k)
        limit = relief.DENSE_RELEVANCE_MAX_FEATURES
        try:
            relief.DENSE_RELEVANCE_MAX_FEATURES = -1
            coo, coo_std = _finalize_relevance(raw, n, k)
        finally:
            relief.DENSE_RELEVANCE_MAX_FEATURES = limit
        assert isinstance(dense, np.ndarray)
        assert isinstance(coo, SparseRelevance)
        assert [float(v) for v in coo] == dense.tolist() == minmax_oracle(raw, n).tolist()
        assert dense_std == coo_std == std_ranking_oracle(dense, k)
        return dense, coo

    def check(raw, n, k, red):
        dense, coo = both(raw, n, k)
        want = greedy_oracle(dense, red, k)
        assert greedy_select(dense, red, k) == want
        assert greedy_select(coo, red, k) == want

    rng = np.random.default_rng(17)
    for _ in range(40):
        n = int(rng.integers(4, 40))
        n_active = int(rng.integers(0, n + 1))
        active = rng.choice(n, size=n_active, replace=False)
        raw = {int(f): float(rng.normal()) for f in active}
        k = int(rng.integers(1, n + 1))
        red = {}
        for _ in range(int(rng.integers(0, 30))):
            f1, f2 = int(rng.integers(0, n)), int(rng.integers(0, n))
            if f1 != f2:
                red[(f1, f2)] = float(rng.random())
        check(raw, n, k, red)
        check(raw, n, 0, red)          # k = 0 selects nothing
        check(raw, n, n + 3, red)      # k > n selects every feature
    for _ in range(10):  # wide and mostly absent: COO touches absent ids
        n = int(rng.integers(50, 500))
        active = rng.choice(n, size=int(rng.integers(0, 10)), replace=False)
        raw = {int(f): float(rng.normal()) for f in active}
        red = {
            (int(rng.integers(0, n)), int(rng.integers(0, 20))): float(rng.random())
            for _ in range(15)
        }
        red = {key: v for key, v in red.items() if key[0] != key[1]}
        check(raw, n, int(rng.integers(1, 25)), red)
    check({}, 0, 3, {})                # empty input
    check({}, 6, 4, {(1, 4): 0.5})     # every feature absent
    check({}, 6, 4, {})


def test_sparse_fit_coo_mode_matches_dense_mode(spark, monkeypatch):
    """Past the width threshold the sparse fit's driver state goes COO;
    forcing the threshold to 4 on a small batched fit must reproduce
    the dense-mode result (selections exactly; relevance values to
    cross-run tolerance).

    Tolerance note: the two fits are SEPARATE Spark runs, and partial-
    aggregation merge order varies with task completion order, so their
    float sums can differ at the last few ulps (~1e-13 after min-max
    normalization) — that is run-to-run noise, not a COO/dense
    divergence (bit-exact COO==dense parity on IDENTICAL inputs is
    pinned by test_coo_ranking_and_greedy_match_dense). Selections stay
    exact: this fixture's smallest relevance gap is ~1.1e-2 and its kNN
    boundaries are tie-free (verified with numpy), so ulp noise cannot
    flip them."""
    from spark_relieffc_fselection_spark.operators import relief
    from spark_relieffc_fselection_spark.operators.relief import SparseRelevance

    rng = np.random.default_rng(23)
    n, d = 40, 8
    X = rng.normal(loc=2.0, size=(n, d)).round(3)
    y = (X[:, 1] > 2.0).astype(float)
    rows = [(i, X[i].tolist(), float(y[i])) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, features array<double>, label double")
    long_df, labels = to_long_form(df)
    kwargs = dict(
        n_features=d, num_top_features=3, num_neighbors=3,
        redundancy_removal=True, batch_size=0.5,
    )
    dense_res = fit_relief_sparse(long_df, labels, **kwargs)
    monkeypatch.setattr(relief, "DENSE_RELEVANCE_MAX_FEATURES", 4)
    coo_res = fit_relief_sparse(long_df, labels, **kwargs)
    assert isinstance(coo_res.relevance, SparseRelevance)
    assert not isinstance(dense_res.relevance, SparseRelevance)
    # rich diagnostics, kept for forensics: the round-9 full-suite
    # flakes here were ROOT-CAUSED to JVM heap OOM in the shared test
    # session (Py4JJavaError: java.lang.OutOfMemoryError during
    # collects, reproducible under concurrent host load; the suite ran
    # in the 1g default heap until conftest sized it) — not a value
    # divergence. The pipeline itself is decimal-accumulated and
    # bit-deterministic; if this ever fails as an ASSERT, the message
    # must say WHERE (values vs selections vs COO)
    diag = (
        f"dense rel={[dense_res.relevance[i] for i in range(d)]} "
        f"coo rel={[coo_res.relevance[i] for i in range(d)]} "
        f"dense red_coo={sorted(dense_res.redundancy_coo.items())} "
        f"coo red_coo={sorted(coo_res.redundancy_coo.items())}"
    )
    assert coo_res.std_selection == dense_res.std_selection, diag
    assert coo_res.redundancy_selection == dense_res.redundancy_selection, diag
    for i in range(d):
        assert abs(coo_res.relevance[i] - dense_res.relevance[i]) < 1e-9, diag


def test_sparse_fit_kddb_width_driver_stays_coo(spark):
    """A declared width of 1M features (the kddb direction) must not
    allocate O(n_features) driver arrays: the result's relevance is the
    COO view, bounded by ACTIVE features."""
    from spark_relieffc_fselection_spark.operators.relief import SparseRelevance

    rng = np.random.default_rng(29)
    n, nnz, D = 120, 5, 1_000_000
    rows = []
    for i in range(n):
        feats = sorted(int(f) for f in rng.choice(D, size=nnz, replace=False))
        vals = rng.normal(loc=1.0, size=nnz).round(3)
        rows.append((i, [(f, float(v)) for f, v in zip(feats, vals)], float(i % 2)))
    long_rows = [(i, f, v) for i, fv, _ in rows for f, v in fv]
    long_df = spark.createDataFrame(
        long_rows, "id long, feature_idx int, value double"
    )
    labels = spark.createDataFrame(
        [(i, lbl) for i, _, lbl in rows], "id long, label double"
    )
    res = fit_relief_sparse(
        long_df, labels, n_features=D,
        num_top_features=5, num_neighbors=2,
        redundancy_removal=True, batch_size=0.5,
    )
    assert isinstance(res.relevance, SparseRelevance)
    assert len(res.relevance) == D
    assert len(res.relevance.data) <= n * nnz  # bounded by active features
    assert len(res.std_selection) == 5
    assert len(res.redundancy_selection) == 5


def test_sparse_route_resolution_is_recorded(spark):
    """The fit records the one exact sparse route, 'sparse-inverted',
    single pass and batched, on genuinely sparse data and on data where
    every row shares feature 0 (the q161 regime, which used to fall
    back from a norm probe to a norms grid), and so does
    ``resolution_out``. Calling sparse_knn_join runs one action, the
    norms fetch: no probe rounds."""
    rows = []
    rng = np.random.default_rng(7)
    for i in range(120):
        f1, f2 = rng.choice(50, size=2, replace=False)
        rows.append((i, int(f1), round(float(rng.normal()), 3)))
        rows.append((i, int(f2), round(float(rng.normal()), 3)))
    sparse_long = spark.createDataFrame(rows, "id long, feature_idx int, value double")
    sparse_labels = spark.createDataFrame(
        [(i, float(i % 2)) for i in range(120)], "id long, label double"
    )
    shared = [(i, 0, 1.0 + (i % 7) / 10.0) for i in range(100)] + [
        (i, 1 + i % 5, 0.5) for i in range(100)
    ]
    shared_long = spark.createDataFrame(shared, "id long, feature_idx int, value double")
    shared_labels = spark.createDataFrame(
        [(i, float(i % 2)) for i in range(100)], "id long, label double"
    )
    for long_df, labels, width in ((sparse_long, sparse_labels, 50), (shared_long, shared_labels, 6)):
        for batch_size in (1.0, 0.5):
            res = fit_relief_sparse(
                long_df, labels, n_features=width, num_top_features=3,
                num_neighbors=2, redundancy_removal=False, batch_size=batch_size,
            )
            assert res.resolved_knn_strategy == "sparse-inverted", (width, batch_size)
        sc = spark.sparkContext
        group = f"test-sparse-knn-call-{width}"
        route: dict = {}
        sc.setJobGroup(group, "sparse kNN call")
        try:
            sparse_knn_join(long_df, labels, labels.select("id"), 4, resolution_out=route)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert route == {"route": "sparse-inverted"}
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        infos = [
            sc.statusTracker().getStageInfo(st)
            for j in jobs
            for st in sc.statusTracker().getJobInfo(j).stageIds
        ]
        # past spark.ui.retainedStages, a long session's status store
        # evicts stage infos (getStageInfo gives None): check those kept
        stages = {info.name for info in infos if info is not None}
        assert jobs and stages and all("toArrow" in name for name in stages), stages


def _discrete(df):
    """The fixture floored to integers: zero-threshold collisions."""
    return df.select(
        "id", F.transform("features", lambda x: F.floor(x).cast("double")).alias("features"), "label"
    )


@pytest.mark.parametrize(
    "redundancy, discrete, estimation_ratio",
    [
        (True, False, None),
        (False, False, None),
        (True, True, None),
        (False, True, None),
        (True, False, 0.5),
    ],
)
def test_sparse_single_pass_matches_reference_dataflow(
    spark, sparse_fixture, redundancy, discrete, estimation_ratio
):
    """batch_size=1.0 runs the shared batch engine; it must return
    exactly what the plain operator chain returns (relevance_weights ->
    collision_table -> joint/marginal counts -> MI -> greedy, kept in
    tests/oracle_relief.py): same relevance bits, selections and
    redundancy COO, with redundancy on and off, continuous and
    discrete. The single pass ignores a declared ``estimation_ratio``
    (its jointTotal is the undiscounted pair count); None declares
    none."""
    from tests.oracle_relief import sparse_single_pass_reference

    df, X, _ = sparse_fixture
    long_df, labels = to_long_form(_discrete(df) if discrete else df)
    kwargs = dict(
        num_top_features=3,
        num_neighbors=4,
        redundancy_removal=redundancy,
        discrete_data=discrete,
    )
    want = sparse_single_pass_reference(long_df, labels, X.shape[1], **kwargs)
    if estimation_ratio is not None:
        kwargs["estimation_ratio"] = estimation_ratio
    got = fit_relief_sparse(long_df, labels, X.shape[1], batch_size=1.0, **kwargs)
    assert [float(v) for v in got.relevance] == want["relevance"]
    assert got.std_selection == want["std_selection"]
    assert got.redundancy_selection == want["redundancy_selection"]
    assert got.redundancy_coo == want["redundancy_coo"]
    if redundancy:
        assert got.redundancy_coo  # the comparison covered real entries


def test_batched_fits_share_one_joint_total(spark, sparse_fixture, monkeypatch):
    """Dense and sparse batched fits scale the pair total into
    jointTotal with the same share, 1 - ratio * (1 / n_batches)
    (ReliefFRSelector.scala:641-642), bit for bit — also at a ratio and
    batch count where 1 - ratio / n_batches rounds differently."""
    from spark_relieffc_fselection_spark.operators import relief as relief_mod

    ratio, n_batches = 0.48, 3
    share = 1.0 - ratio * (1.0 / n_batches)
    assert share != 1.0 - ratio / n_batches  # the case discriminates
    seen = []
    mi = relief_mod._mi_redundancy_coo

    def spy(joint, marginal, total, joint_total):
        seen.append((total, joint_total))
        return mi(joint, marginal, total, joint_total)

    monkeypatch.setattr(relief_mod, "_mi_redundancy_coo", spy)
    df, X, _ = sparse_fixture
    kwargs = dict(num_top_features=3, num_neighbors=3, redundancy_removal=True, batch_size=0.3)
    dense = relief_mod.fit_relief(
        df, estimation_ratio=ratio, sampling="hash", batching="hash", **kwargs
    )
    long_df, labels = to_long_form(df)
    sparse = fit_relief_sparse(
        long_df, labels, X.shape[1], estimation_ratio=ratio, **kwargs
    )
    assert dense.n_batches == sparse.n_batches == n_batches
    assert len(seen) == 2
    for total, joint_total in seen:
        assert joint_total == total * share


#: Spark jobs of each sparse fit, identical over 10 runs in one session:
#: the profiling collect (2), per batch the one Arrow fetch of its long
#: rows and norms (4), the one stats collect (6 for one batch: the dot
#: join's broadcast query rows, the dot aggregation, the merge's and the
#: lookup's repartitions and the result; 11 for 2 batches; one more per
#: batch that fills the pair cache) and, with redundancy removal, the
#: one joint/MI collect (4)
_SPARSE_FIT_JOBS = {(1.0, True): 17, (1.0, False): 12, (0.5, True): 27, (0.5, False): 21}


@pytest.mark.parametrize(
    "batch_size, redundancy, max_jobs",
    [(1.0, True, 60), (1.0, False, 50), (0.5, True, 87), (0.5, False, 77)],
)
def test_sparse_fit_job_count_bounded(spark, sparse_fixture, batch_size, redundancy, max_jobs):
    """Spark jobs per sparse fit, counted under a job group like the
    dense pins: an exact pin (:data:`_SPARSE_FIT_JOBS`). ``max_jobs`` is
    the largest count measured over six runs of the fit before both
    sparse fits ran through the shared batch engine. The count used to
    vary by up to three between runs, in the AQE stage jobs of the Spark
    pair-table chain; the pair kernel's lookup replaced that chain."""
    df, X, _ = sparse_fixture
    long_df, labels = to_long_form(df)
    sc = spark.sparkContext
    group = f"test-sparse-fit-jobs-{batch_size}-{redundancy}"
    sc.setJobGroup(group, "sparse fit job-count pin")
    try:
        fit_relief_sparse(
            long_df, labels, n_features=X.shape[1],
            num_top_features=3, num_neighbors=4,
            redundancy_removal=redundancy, batch_size=batch_size,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    pinned = _SPARSE_FIT_JOBS[(batch_size, redundancy)]
    assert pinned < max_jobs
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == pinned


@pytest.mark.parametrize("batch_size", [1.0, 0.5])
def test_sparse_fit_rejects_duplicate_ids_at_the_norms_fetch(spark, sparse_fixture, batch_size):
    """Repeated ids have no single norm and used to multiply rows
    silently. Each batch's norms fetch holds every id of the batch, so
    it names the repeats (18 and 42 both land in hash batch 0 of 2): the
    fetch is the fit's last action, and no kNN, pair or stats job runs
    after it."""
    df, X, _ = sparse_fixture
    long_df, labels = to_long_form(df)
    labels = labels.unionByName(labels.filter(F.col("id").isin(18, 42)))
    sc = spark.sparkContext
    group = f"test-sparse-duplicate-ids-{batch_size}"
    sc.setJobGroup(group, "sparse duplicate ids")
    try:
        with pytest.raises(ValueError, match=r"2 duplicate 'id' value\(s\).*: 18, 42"):
            fit_relief_sparse(
                long_df, labels, n_features=X.shape[1], num_top_features=3,
                num_neighbors=4, batch_size=batch_size,
            )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    # evicted stage infos (getStageInfo gives None, see above) are skipped
    jobs = [
        [
            info.name
            for info in map(tracker.getStageInfo, tracker.getJobInfo(j).stageIds)
            if info is not None
        ]
        for j in sorted(tracker.getJobIdsForGroup(group))
    ]
    fetches = [i for i, names in enumerate(jobs) if any("toArrow" in n for n in names)]
    assert fetches and fetches == list(range(fetches[0], len(jobs))), jobs


def _with_non_finite(df, X, value):
    """The sparse fixture's long table with ``value`` in place of the
    first active entry of ids 18 and 42 (both in hash batch 0 of 2)."""
    long_df, labels = to_long_form(df)
    hit = F.lit(False)
    for i in (18, 42):
        hit = hit | ((F.col("id") == i) & (F.col("feature_idx") == int(np.flatnonzero(X[i])[0])))
    return long_df.withColumn("value", F.when(hit, F.lit(value)).otherwise(F.col("value"))), labels


_NON_FINITE = r"sparse_knn_join: 2 NaN or \+-inf 'value' value\(s\) in the long table, on id\(s\) 18, 42"


@pytest.mark.parametrize("value", [float("nan"), float("inf"), float("-inf")])
@pytest.mark.parametrize("batch_size", [1.0, 0.5])
def test_sparse_fit_rejects_non_finite_values_at_the_norms_fetch(
    spark, sparse_fixture, batch_size, value
):
    """A NaN or an infinity used to cast to NULL in the decimal norm and
    dot sums (an infinite row's norm became 0) and moved the weights
    with no error. The norms aggregation counts them per id, so each
    batch's norms fetch names them: it is the fit's last action."""
    from tests.test_relief import _fit_jobs

    df, X, _ = sparse_fixture
    long_df, labels = _with_non_finite(df, X, value)

    def fit():
        with pytest.raises(ValueError, match=_NON_FINITE):
            fit_relief_sparse(
                long_df, labels, n_features=X.shape[1], num_top_features=3,
                num_neighbors=4, batch_size=batch_size,
            )

    jobs = _fit_jobs(spark, f"test-sparse-non-finite-{batch_size}-{value}", fit)
    fetches = [i for i, names in enumerate(jobs) if any("toArrow" in n for n in names)]
    assert fetches and fetches == list(range(fetches[0], len(jobs))), jobs


def test_estimator_sparse_route_rejects_non_finite_values(spark, sparse_fixture):
    from pyspark.ml.linalg import SparseVector

    from spark_relieffc_fselection_spark.ml import ReliefFSelector

    _, X, y = sparse_fixture
    X = X.copy()
    X[18, np.flatnonzero(X[18])[0]] = np.nan
    rows = [
        (SparseVector(X.shape[1], {j: v for j, v in enumerate(x) if v != 0.0}), float(lbl))
        for x, lbl in zip(X, y)
    ]
    df = spark.createDataFrame(rows, ["features", "label"])
    with pytest.raises(ValueError, match=r"1 NaN or \+-inf 'value' value\(s\)"):
        ReliefFSelector(
            numTopFeatures=3, numNeighbors=4, estimationRatio=1.0, batchSize=1.0
        ).fit(df)


@pytest.mark.parametrize("batch_size", [1.0, 0.5])
def test_fit_relief_sparse_empty_input_raises_clearly(spark, batch_size):
    """Empty long/labels tables fail with the same named ValueError as
    the dense fit, single-pass and batched."""
    long_df = spark.createDataFrame([], "id long, feature_idx int, value double")
    labels = spark.createDataFrame([], "id long, label double")
    with pytest.raises(ValueError, match="non-empty"):
        fit_relief_sparse(
            long_df, labels, n_features=4, num_top_features=2,
            num_neighbors=2, batch_size=batch_size,
        )


def _explicit_zeros():
    """:func:`_two_of_fifty` plus an explicit 0.0 entry on a third
    feature of every third row: active, so its slot counts."""
    rng = np.random.default_rng(13)
    rows = _two_of_fifty()
    taken = {(i, f) for i, f, _ in rows}
    for i in range(0, 120, 3):
        f = int(rng.choice([f for f in range(50) if (i, f) not in taken]))
        rows.append((i, f, 0.0))
    return rows


#: name -> (long rows, label ids, k, declared width)
_KERNEL_FIXTURES = {
    "integer-ties": (
        [(i, f, float((i + f) % 3)) for i in range(30) for f in range(4) if (i + f) % 3],
        range(30), 5, 4,
    ),
    "explicit-zeros": (_explicit_zeros(), range(120), 6, 50),
    "all-zero-rows": (_two_of_fifty(), range(125), 7, 50),
    "binary-values": (_binary(), range(95), 5, 30),
    "wide": (
        [(i, f * 40_009 + 3, v) for i, f, v in _two_of_fifty()], range(125), 6, 1 << 21,
    ),
}


@pytest.mark.parametrize("fixture", list(_KERNEL_FIXTURES))
def test_sparse_pair_kernel_equals_the_pair_table_chain(spark, fixture):
    """The sparse fit's pair kernel reduces each (query, neighbour) pair
    over its union of active slots in the lookup task. Summed per key,
    its partials must equal, as decimals, the Spark chain over the same
    ``sparse_knn_join`` table: ``feature_bin_stats(
    sparse_pair_feature_table(...))`` (sums and collision counts),
    ``_pair_bin_counts`` and ``joint_counts(collision_table(...))`` for a
    scope, on continuous and discrete data. Fixtures: integer distance
    ties, explicit 0.0 long rows, all-zero rows, binary rows and a
    declared width of 2^21."""
    from spark_relieffc_fselection_spark.operators.relief import (
        collision_table,
        feature_bin_stats,
        joint_counts,
    )
    from spark_relieffc_fselection_spark.operators.relief_sparse import _sparse_neighbourhood
    from tests.oracle_relief import _pair_bin_counts
    from tests.test_knn import _kernel_stats

    rows, label_ids, k, width = _KERNEL_FIXTURES[fixture]
    long_df = spark.createDataFrame(rows, "id long, feature_idx int, value double")
    labels = spark.createDataFrame(
        [(i, float(i % 3)) for i in label_ids], "id long, label double"
    )
    neigh = sparse_knn_join(long_df, labels, labels.select("id"), k).cache()
    lp = sparse_pair_feature_table(long_df, labels, neigh).cache()
    want_counts = {
        (r["n_label"], r["same_class"]): r["bin_cnt"]
        for r in _pair_bin_counts(neigh, labels).collect()
    }
    top = sorted({f for _, f, _ in rows})[:5]
    joints = 0
    for continuous in (True, False):
        ldt = 0.8
        threshold = 6.0 * (1.0 - ldt) if continuous else 0.0
        want_bins = {
            (r["feature_idx"], r["n_label"], r["same_class"]): (
                r["bin_sum"], r["vote_sum"], r["n_collisions"]
            )
            for r in feature_bin_stats(lp, continuous, ldt).collect()
        }
        want_joint = {
            (r["f1"], r["f2"]): r["joint"]
            for r in joint_counts(collision_table(lp, continuous, ldt), top, continuous).collect()
        }
        held: list = []
        nb = _sparse_neighbourhood(
            long_df, labels, labels.select("id"), k, held.append,
            continuous=continuous, threshold=threshold, keep_pairs=True, n_features=width,
        )
        try:
            got_bins, got_counts = _kernel_stats(nb.stats.collect())
            got_joint = {(r["f1"], r["f2"]): r["joint"] for r in nb.joint(top).collect()}
        finally:
            for h in held:
                h.unpersist()
        assert got_counts == want_counts, continuous
        assert got_bins == want_bins, continuous
        assert got_joint == want_joint, continuous
        joints += len(want_joint)
    neigh.unpersist()
    lp.unpersist()
    assert want_counts and joints  # the comparison covered real entries


def test_sparse_fit_and_q44_build_no_pair_table(spark, sparse_fixture, monkeypatch):
    """The sparse fit and q44 reduce their pairs inside the pair
    kernel's lookup task: they call none of the Spark pair-table
    operators, and the rows the fit caches carry no feature values,
    single pass and 2 hash batches with redundancy removal on."""
    from spark_relieffc_fselection_spark.operators import relief, relief_sparse
    from spark_relieffc_fselection_spark.queries.relief_q import q44_sparse_relief_relevance
    from tests.conftest import SF_DIR

    def banned(*_args, **_kwargs):
        raise AssertionError("a sparse fit built a pair table")

    for mod, name in (
        (relief_sparse, "sparse_pair_feature_table"),
        (relief, "feature_bin_stats"),
        (relief, "collision_table"),
        (relief, "joint_counts"),
    ):
        monkeypatch.setattr(mod, name, banned)
    df, X, _ = sparse_fixture
    long_df, labels = to_long_form(df)
    cached = []
    real_cache = type(df).cache

    def cache(frame):
        cached.append(frame.schema)
        return real_cache(frame)

    monkeypatch.setattr(type(df), "cache", cache)
    for batch_size in (1.0, 0.5):
        res = fit_relief_sparse(
            long_df, labels, n_features=X.shape[1], num_top_features=3,
            num_neighbors=4, redundancy_removal=True, batch_size=batch_size,
        )
        assert res.redundancy_coo
    assert q44_sparse_relief_relevance(spark, SF_DIR).count() > 0
    pair_caches = [s for s in cached if "qi" in s.names]
    assert len(pair_caches) == 3
    assert not any(
        f.dataType.typeName() == "array" or f.name == "value"
        for s in pair_caches
        for f in s.fields
    ), pair_caches


def _entry_of(X, i):
    """The feature of id ``i``'s first active entry in the fixture."""
    return int(np.flatnonzero(X[i])[0])


def _first_entries(X):
    hit = F.lit(False)
    for i in (18, 42):
        hit = hit | ((F.col("id") == i) & (F.col("feature_idx") == _entry_of(X, i)))
    return hit


def _null_column(df, X, column):
    long_df, labels = to_long_form(df)
    return long_df.withColumn(
        column, F.when(_first_entries(X), F.lit(None)).otherwise(F.col(column))
    ), labels


def _repeated_keys(df, X, _column):
    long_df, labels = to_long_form(df)
    return long_df.unionByName(long_df.filter(_first_entries(X))), labels


def _out_of_range(df, X, _column):
    long_df, labels = to_long_form(df)
    f = F.when((F.col("id") == 18) & (F.col("feature_idx") == _entry_of(X, 18)), F.lit(-1))
    f = f.when((F.col("id") == 42) & (F.col("feature_idx") == _entry_of(X, 42)), F.lit(X.shape[1]))
    return long_df.withColumn("feature_idx", f.otherwise(F.col("feature_idx"))), labels


@pytest.mark.parametrize(
    "make, column, message",
    [
        (_null_column, "feature_idx", r"2 null 'feature_idx' value\(s\) in the long table, on id\(s\) 18, 42"),
        (_null_column, "value", r"2 null 'value' value\(s\) in the long table, on id\(s\) 18, 42"),
        (
            _repeated_keys, None,
            r"2 repeated \(id, feature_idx\) key\(s\) in the long table: \(18, \d+\), \(42, \d+\)",
        ),
        (
            _out_of_range, None,
            r"2 'feature_idx' value\(s\) outside \[0, 10\) in the long table: -1, 10, on id\(s\) 18, 42",
        ),
    ],
    ids=["null-feature_idx", "null-value", "repeated-key", "out-of-range"],
)
@pytest.mark.parametrize("batch_size", [1.0, 0.5])
def test_sparse_fit_checks_the_long_rows_at_the_batch_fetch(
    spark, sparse_fixture, batch_size, make, column, message
):
    """The sparse fit's long-row contract, checked in each batch's one
    Arrow fetch (no extra job; the fetch is the fit's last action):
    null ``feature_idx`` or ``value``, a repeated ``(id, feature_idx)``
    — the norms and dots would add both rows — and a ``feature_idx``
    outside ``[0, n_features)``, which the finalize's numpy index used
    to wrap (-1 ranked as the last feature). Ids 18 and 42 both land
    in hash batch 0 of 2."""
    from tests.test_relief import _fit_jobs

    df, X, _ = sparse_fixture
    long_df, labels = make(df, X, column)

    def fit():
        with pytest.raises(ValueError, match=message):
            fit_relief_sparse(
                long_df, labels, n_features=X.shape[1], num_top_features=3,
                num_neighbors=4, batch_size=batch_size,
            )

    jobs = _fit_jobs(spark, f"test-sparse-contract-{batch_size}-{make.__name__}-{column}", fit)
    fetches = [i for i, names in enumerate(jobs) if any("toArrow" in n for n in names)]
    assert fetches and fetches == list(range(fetches[0], len(jobs))), jobs


def test_sparse_fit_names_a_batch_past_the_broadcast_bound(spark, sparse_fixture, monkeypatch):
    """The sparse twin of the dense fit's ~2 GiB broadcast guard
    (ReliefFRSelector.scala:225-228): a batch whose CSR rows take more
    than SPARSE_BROADCAST_MAX_BYTES fails by name at its fetch, before
    it is broadcast or any statistics job runs."""
    from spark_relieffc_fselection_spark.operators import relief_sparse
    from tests.test_relief import _fit_jobs

    df, X, _ = sparse_fixture
    long_df, labels = to_long_form(df)
    monkeypatch.setattr(relief_sparse, "SPARSE_BROADCAST_MAX_BYTES", 1000)

    def fit():
        with pytest.raises(ValueError, match=r"sparse rows take \d+ bytes, past the 1000-byte"):
            fit_relief_sparse(
                long_df, labels, n_features=X.shape[1], num_top_features=3, num_neighbors=4,
            )

    jobs = _fit_jobs(spark, "test-sparse-broadcast-bound", fit)
    assert any("toArrow" in n for n in jobs[-1]), jobs
