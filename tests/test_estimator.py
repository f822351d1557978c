import numpy as np
import pytest
from pyspark.ml import Pipeline
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.linalg import Vectors

from spark_relieffc_fselection_spark.ml import ReliefFSelector, ReliefFSelectorModel


@pytest.fixture(scope="module")
def vec_df(spark):
    rng = np.random.default_rng(3)
    n, d = 60, 5
    X = rng.normal(size=(n, d)).round(3)
    y = (X[:, 2] > 0).astype(float)  # feature 2 informative
    rows = [(Vectors.dense(X[i]), float(y[i])) for i in range(n)]
    return spark.createDataFrame(rows, ["features", "label"])


@pytest.fixture(scope="module")
def fitted(vec_df):
    sel = ReliefFSelector(
        numTopFeatures=2, numNeighbors=3, estimationRatio=1.0,
        batchSize=1.0, redundancyRemoval=False, seed=99,
    )
    return sel.fit(vec_df)


def test_fit_finds_informative_feature(fitted):
    assert fitted.getOrDefault(fitted.stdSelection)[0] == 2


def test_transform_slices_vectors(fitted, vec_df):
    out = fitted.transform(vec_df)
    row = out.first()
    assert len(row["selectedFeatures"]) == 2
    idx = fitted.selected_indices()
    assert idx == sorted(idx)
    np.testing.assert_allclose(
        np.array(row["selectedFeatures"].toArray()),
        np.array(row["features"].toArray())[idx],
    )


def test_transform_array_input(fitted, spark, vec_df):
    arr_df = spark.createDataFrame(
        [([1.0, 2.0, 3.0, 4.0, 5.0], 0.0)], ["features", "label"]
    )
    out = fitted.transform(arr_df).first()
    idx = fitted.selected_indices()
    assert list(out["selectedFeatures"]) == [float(i + 1) for i in idx]


def test_selection_size_truncates(fitted, vec_df):
    m2 = fitted.copy()
    m2.set(m2.selectionSize, 1)
    assert len(m2.selected_indices()) == 1
    # priority order defines survival: first selected feature wins
    assert m2.selected_indices() == [fitted.getOrDefault(fitted.stdSelection)[0]]


def test_model_ranking_dataframe(fitted, spark):
    df = fitted.ranking(spark)
    rows = df.collect()
    assert len(rows) == 2
    assert rows[0]["rank"] == 1
    assert rows[0]["std_feature"] == fitted.getOrDefault(fitted.stdSelection)[0]
    assert rows[0]["std_relevance"] == 1.0  # top feature is min-max max


def test_model_persistence_roundtrip(fitted, tmp_path, vec_df):
    path = str(tmp_path / "model")
    fitted.write().overwrite().save(path)
    loaded = ReliefFSelectorModel.load(path)
    assert loaded.getOrDefault(loaded.stdSelection) == fitted.getOrDefault(
        fitted.stdSelection
    )
    assert loaded.selected_indices() == fitted.selected_indices()
    a = fitted.transform(vec_df).select("selectedFeatures").collect()
    b = loaded.transform(vec_df).select("selectedFeatures").collect()
    assert a == b


def test_estimator_persistence_roundtrip(tmp_path):
    est = ReliefFSelector(numTopFeatures=7, redundancyRemoval=True, seed=5)
    path = str(tmp_path / "est")
    est.write().overwrite().save(path)
    loaded = ReliefFSelector.load(path)
    assert loaded.getOrDefault(loaded.numTopFeatures) == 7
    assert loaded.getOrDefault(loaded.redundancyRemoval) is True


def test_pipeline_integration(spark):
    rng = np.random.default_rng(5)
    n = 50
    cols = {f"f{i}": rng.normal(size=n).round(3) for i in range(4)}
    cols["label"] = (cols["f1"] > 0).astype(float)
    rows = [tuple(float(v) for v in row) for row in zip(*cols.values())]
    df = spark.createDataFrame(rows, list(cols))
    pipe = Pipeline(stages=[
        VectorAssembler(inputCols=[f"f{i}" for i in range(4)], outputCol="features"),
        ReliefFSelector(numTopFeatures=1, numNeighbors=3, estimationRatio=1.0,
                        batchSize=1.0, seed=1),
    ])
    model = pipe.fit(df)
    out = model.transform(df)
    assert out.select("selectedFeatures").first()[0].toArray().shape == (1,)
    sel = model.stages[-1]
    assert sel.getOrDefault(sel.stdSelection)[0] == 1


def test_param_defaults_match_reference():
    """Every algorithm param ships the REFERENCE's default
    (ReliefFRSelector.scala:88-164 setDefault calls) so a user porting
    code gets identical behavior without touching params."""
    est = ReliefFSelector()
    get = est.getOrDefault
    assert get(est.numTopFeatures) == 10
    assert get(est.numNeighbors) == 10
    assert get(est.estimationRatio) == 0.25
    assert get(est.batchSize) == 0.25
    assert get(est.lowerFeatureThreshold) == 3.0
    assert get(est.lowerDistanceThreshold) == 0.8
    assert get(est.redundancyRemoval) is False
    assert get(est.discreteData) is False
    assert get(est.inputCol) == "features"
    assert get(est.outputCol) == "selectedFeatures"


def test_full_pipeline_persistence_roundtrip(spark, tmp_path):
    """A whole spark.ml Pipeline(VectorAssembler -> selector) and its
    fitted PipelineModel survive save/load — the deployment path users
    actually persist (stage-level DefaultParams IO composing under
    Pipeline IO)."""
    from pyspark.ml import Pipeline, PipelineModel

    rng = np.random.default_rng(21)
    n = 40
    cols = {f"f{i}": rng.normal(size=n).round(3) for i in range(3)}
    cols["label"] = (cols["f0"] > 0).astype(float)
    rows = [tuple(float(v) for v in row) for row in zip(*cols.values())]
    df = spark.createDataFrame(rows, list(cols))
    pipe = Pipeline(stages=[
        VectorAssembler(inputCols=["f0", "f1", "f2"], outputCol="features"),
        ReliefFSelector(numTopFeatures=1, numNeighbors=3, estimationRatio=1.0,
                        batchSize=1.0, seed=4),
    ])
    p_path = str(tmp_path / "pipe")
    pipe.write().overwrite().save(p_path)
    pipe2 = Pipeline.load(p_path)
    model = pipe2.fit(df)
    m_path = str(tmp_path / "pipe_model")
    model.write().overwrite().save(m_path)
    loaded = PipelineModel.load(m_path)
    a = model.transform(df).select("selectedFeatures").collect()
    b = loaded.transform(df).select("selectedFeatures").collect()
    assert a == b
    sel = loaded.stages[-1]
    assert sel.getOrDefault(sel.stdSelection)[0] == 0  # f0 drives the label


def test_transform_writes_ml_attribute_group(spark):
    """The output vector column carries AttributeGroup-compatible
    `ml_attr` metadata with the INPUT attribute names propagated and
    re-based (prepOutputField parity, ReliefFRSelector.scala:831-840 —
    minus its stdSelection-always defect), so downstream name-aware
    spark.ml stages read it. Verified end-to-end with a
    VectorSlicer(names=...) consuming the selector's output."""
    from pyspark.ml.feature import VectorSlicer

    rng = np.random.default_rng(5)
    n = 50
    cols = {f"f{i}": rng.normal(size=n).round(3) for i in range(4)}
    cols["label"] = (cols["f1"] > 0).astype(float)
    rows = [tuple(float(v) for v in row) for row in zip(*cols.values())]
    df = spark.createDataFrame(rows, list(cols))
    assembled = VectorAssembler(
        inputCols=[f"f{i}" for i in range(4)], outputCol="features"
    ).transform(df)
    model = ReliefFSelector(
        numTopFeatures=2, numNeighbors=3, estimationRatio=1.0,
        batchSize=1.0, seed=1,
    ).fit(assembled)
    out = model.transform(assembled)
    meta = out.schema["selectedFeatures"].metadata
    attrs = meta["ml_attr"]["attrs"]["numeric"]
    sel = model.selected_indices()
    assert meta["ml_attr"]["num_attrs"] == len(sel) == 2
    assert [a["idx"] for a in attrs] == [0, 1]  # re-based positions
    assert [a["name"] for a in attrs] == [f"f{i}" for i in sel]  # input names kept
    # a name-aware downstream stage resolves those attrs
    sliced = VectorSlicer(
        inputCol="selectedFeatures", outputCol="byname", names=[f"f{sel[0]}"]
    ).transform(out)
    row = sliced.first()
    assert row["byname"].toArray().tolist() == [row["selectedFeatures"][0]]


def test_transform_attrs_without_input_names_default_numeric(fitted, vec_df):
    """No input attrs (plain dense vectors): output still carries an
    unnamed numeric AttributeGroup sized to the selection, like the
    reference's NumericAttribute.defaultAttr fill."""
    meta = fitted.transform(vec_df).schema["selectedFeatures"].metadata
    assert meta["ml_attr"]["num_attrs"] == 2
    assert len(meta["ml_attr"]["attrs"]["numeric"]) == 2
    assert meta["selected_features"] == fitted.selected_indices()


def test_pipeline_with_string_labels(spark):
    """StringIndexer -> VectorAssembler -> selector (SURVEY F10/F11):
    the reference harness's label path (TestHelper.scala:106-113)."""
    from pyspark.ml.feature import StringIndexer

    rng = np.random.default_rng(9)
    n = 40
    f0 = rng.normal(size=n).round(3)
    f1 = rng.normal(size=n).round(3)
    rows = [
        (float(a), float(b), "pos" if b > 0 else "neg") for a, b in zip(f0, f1)
    ]
    df = spark.createDataFrame(rows, "f0 double, f1 double, cls string")
    pipe = Pipeline(stages=[
        StringIndexer(inputCol="cls", outputCol="label"),
        VectorAssembler(inputCols=["f0", "f1"], outputCol="features"),
        ReliefFSelector(numTopFeatures=1, numNeighbors=3, estimationRatio=1.0,
                        batchSize=1.0, seed=2),
    ])
    model = pipe.fit(df)
    sel = model.stages[-1]
    # f1 determines the class -> it must be the selected feature
    assert sel.getOrDefault(sel.stdSelection)[0] == 1
    assert model.transform(df).select("selectedFeatures").first()[0].toArray().shape == (1,)


def test_sparse_vector_input_routes_long_form(spark):
    """SparseVector input takes the inverted-index path (never
    densified) and must agree with the dense route on the same data."""
    rng = np.random.default_rng(21)
    n, d = 60, 10
    X = rng.normal(loc=3.0, size=(n, d)).round(3)
    X[rng.random((n, d)) < 0.7] = 0.0
    y = (X[:, 0] > 0).astype(float)
    sparse_rows = [(Vectors.sparse(d, {j: X[i, j] for j in range(d) if X[i, j] != 0.0}), float(y[i])) for i in range(n)]
    dense_rows = [(Vectors.dense(X[i]), float(y[i])) for i in range(n)]
    sparse_df = spark.createDataFrame(sparse_rows, ["features", "label"])
    dense_df = spark.createDataFrame(dense_rows, ["features", "label"])
    params = dict(
        numTopFeatures=3, numNeighbors=3, estimationRatio=1.0,
        batchSize=1.0, redundancyRemoval=True, seed=7,
    )
    m_sparse = ReliefFSelector(**params).fit(sparse_df)
    m_dense = ReliefFSelector(**params, knnStrategy="sql").fit(dense_df)
    assert m_sparse.getOrDefault(m_sparse.stdSelection) == m_dense.getOrDefault(m_dense.stdSelection)
    rel_s = m_sparse.getOrDefault(m_sparse.relevanceWeights)
    rel_d = m_dense.getOrDefault(m_dense.relevanceWeights)
    assert len(rel_s) == d
    np.testing.assert_allclose(rel_s, rel_d, atol=1e-6)
    # transform works on the sparse input too (output = sliced vector)
    out = m_sparse.transform(sparse_df).select("selectedFeatures").first()[0]
    assert len(out) == 3


def test_estimator_hash_batching_is_rerun_stable(spark, vec_df):
    """batching='hash' makes fit deterministic end-to-end at the
    pipeline surface: two fits agree exactly (the seeded 'random'
    default matches the reference's randomSplit behavior instead)."""
    from spark_relieffc_fselection_spark.ml.estimator import ReliefFSelector

    sel = ReliefFSelector().setParams(
        numTopFeatures=5, numNeighbors=3, estimationRatio=1.0,
        batchSize=0.5, redundancyRemoval=True, batching="hash",
    )
    m1, m2 = sel.fit(vec_df), sel.fit(vec_df)
    assert m1.getOrDefault(m1.stdSelection) == m2.getOrDefault(m2.stdSelection)
    assert m1.getOrDefault(m1.redundancySelection) == m2.getOrDefault(
        m2.redundancySelection
    )


def test_sparse_estimator_honors_batch_size(spark):
    """batchSize participates on the sparse route exactly like the
    reference's sparse path does (ReliefFRSelector.scala:273-275): on
    ZERO-FREE data the sparse batched estimator fit must reproduce the
    dense hash-batched fit bit-for-bit through the full API."""
    rng = np.random.default_rng(31)
    n, d = 48, 8
    X = rng.normal(loc=3.0, size=(n, d)).round(3)  # no zeros
    y = (X[:, 2] > 3.0).astype(float)
    sparse_rows = [
        (Vectors.sparse(d, {j: X[i, j] for j in range(d)}), float(y[i]))
        for i in range(n)
    ]
    dense_rows = [(Vectors.dense(X[i]), float(y[i])) for i in range(n)]
    sparse_df = spark.createDataFrame(sparse_rows, ["features", "label"])
    dense_df = spark.createDataFrame(dense_rows, ["features", "label"])
    params = dict(
        numTopFeatures=3, numNeighbors=3, estimationRatio=1.0,
        batchSize=0.5, redundancyRemoval=True, seed=7,
    )
    m_sparse = ReliefFSelector(**params).fit(sparse_df)
    m_dense = ReliefFSelector(**params, batching="hash").fit(dense_df)
    assert (
        m_sparse.getOrDefault(m_sparse.stdSelection)
        == m_dense.getOrDefault(m_dense.stdSelection)
    )
    assert (
        m_sparse.getOrDefault(m_sparse.redundancySelection)
        == m_dense.getOrDefault(m_dense.redundancySelection)
    )
    np.testing.assert_allclose(
        m_sparse.getOrDefault(m_sparse.relevanceWeights),
        m_dense.getOrDefault(m_dense.relevanceWeights),
        atol=1e-9,
    )


def test_model_records_resolved_knn_strategy(fitted, tmp_path):
    """The model mirrors ReliefFitResult.resolved_knn_strategy as a
    persisted Param (VERDICT r8 #2): a saved model always records
    whether its weights were computed exactly."""
    assert fitted.getOrDefault(fitted.resolvedKnnStrategy) == "numpy"
    assert fitted.getOrDefault(fitted.fitNBatches) == 1  # batchSize=1.0
    path = str(tmp_path / "resolved-model")
    fitted.write().overwrite().save(path)
    loaded = ReliefFSelectorModel.load(path)
    assert loaded.getOrDefault(loaded.resolvedKnnStrategy) == "numpy"
    assert loaded.getOrDefault(loaded.fitNBatches) == 1


def test_sparse_model_records_inverted_strategy(spark):
    from pyspark.ml.linalg import Vectors as V

    rows = [
        (V.sparse(6, [(i % 6, 1.0 + i), ((i + 1) % 6, 0.5)]), float(i % 2))
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, ["features", "label"])
    m = ReliefFSelector(
        numTopFeatures=2, numNeighbors=2, estimationRatio=1.0,
        batchSize=1.0, redundancyRemoval=False,
    ).fit(df)
    assert m.getOrDefault(m.resolvedKnnStrategy) == "sparse-inverted"


def test_sampling_mode_param_reaches_the_fit(spark, vec_df, tmp_path):
    """samplingMode='hash' (VERDICT r8 #4): pipeline users can reach
    the re-run-stable sampled fit (q72d's mode) — two sampled fits
    agree exactly, and the param persistence-round-trips."""
    from spark_relieffc_fselection_spark.ml.estimator import ReliefFSelector

    sel = ReliefFSelector().setParams(
        numTopFeatures=3, numNeighbors=3, estimationRatio=0.5,
        batchSize=0.5, batching="hash", samplingMode="hash",
        redundancyRemoval=True,
    )
    m1, m2 = sel.fit(vec_df), sel.fit(vec_df)
    assert m1.getOrDefault(m1.stdSelection) == m2.getOrDefault(m2.stdSelection)
    assert m1.getOrDefault(m1.redundancySelection) == m2.getOrDefault(
        m2.redundancySelection
    )
    path = str(tmp_path / "sampling-mode-est")
    sel.write().overwrite().save(path)
    loaded = ReliefFSelector.load(path)
    assert loaded.getOrDefault(loaded.samplingMode) == "hash"
    # invalid mode fails loudly at fit time (fit_relief validates)
    with pytest.raises(ValueError, match="sampling"):
        ReliefFSelector(
            numTopFeatures=2, numNeighbors=2, estimationRatio=0.5,
            samplingMode="nope",
        ).fit(vec_df)


def test_sparse_estimator_honors_sampling_mode(spark):
    """The sparse route honors samplingMode='hash' too: the upstream
    id filter is the portable draw, so two fits agree exactly."""
    rng = np.random.default_rng(5)
    n, d = 80, 6
    X = rng.normal(loc=2.0, size=(n, d)).round(3)
    y = (X[:, 1] > 2.0).astype(float)
    rows = [
        (Vectors.sparse(d, {j: X[i, j] for j in range(d)}), float(y[i]))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, ["features", "label"])
    sel = ReliefFSelector(
        numTopFeatures=2, numNeighbors=3, estimationRatio=0.5,
        batchSize=0.5, samplingMode="hash", redundancyRemoval=False,
    )
    m1, m2 = sel.fit(df), sel.fit(df)
    assert m1.getOrDefault(m1.stdSelection) == m2.getOrDefault(m2.stdSelection)
    assert m1.getOrDefault(m1.resolvedKnnStrategy) == "sparse-inverted"


def test_lsh_probe_radius_param_roundtrip(spark, tmp_path):
    # the spark fixture is load-bearing: Param persistence needs an
    # ACTIVE SparkContext, and without requesting it this test only
    # passed when some earlier test left one around (latent ordering
    # dependency, found by a -k selection)
    est = ReliefFSelector(numTopFeatures=3, lshProbeRadius=2)
    path = str(tmp_path / "radius-est")
    est.write().overwrite().save(path)
    loaded = ReliefFSelector.load(path)
    assert loaded.getOrDefault(loaded.lshProbeRadius) == 2


def test_sparse_model_stores_coo_relevance(spark, monkeypatch, tmp_path):
    """A sparse fit that kept COO driver state must NOT densify at the
    model boundary: at the kddb widths the COO path exists for
    (VERDICT r8 #7), `[float(x) for x in SparseRelevance]` would put
    n_features floats into the params JSON (~600 MB at 30M features).
    The model stores active indices/values + the shared absent default,
    persists in O(active), and answers relevance_for identically to a
    dense-layout control fit of the same data."""
    from spark_relieffc_fselection_spark.operators import relief

    rng = np.random.default_rng(29)
    n, d = 50, 10
    X = rng.normal(loc=3.0, size=(n, d)).round(3)
    X[rng.random((n, d)) < 0.6] = 0.0
    y = (X[:, 1] > 0).astype(float)
    rows = [
        (
            Vectors.sparse(d, {j: X[i, j] for j in range(d) if X[i, j] != 0.0}),
            float(y[i]),
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, ["features", "label"])
    params = dict(
        numTopFeatures=3, numNeighbors=3, estimationRatio=1.0,
        batchSize=1.0, redundancyRemoval=True, seed=11,
    )
    dense_model = ReliefFSelector(**params).fit(df)
    monkeypatch.setattr(relief, "DENSE_RELEVANCE_MAX_FEATURES", 4)
    coo_model = ReliefFSelector(**params).fit(df)

    assert coo_model.getOrDefault(coo_model.relevanceWeights) == []
    active = coo_model.getOrDefault(coo_model.relevanceActiveIndices)
    assert active and active == sorted(active)
    assert coo_model.getOrDefault(coo_model.relevanceNumFeatures) == d
    for i in range(d):
        assert coo_model.relevance_for(i) == pytest.approx(
            dense_model.relevance_for(i), abs=1e-9
        )
    assert coo_model.relevance_for(d) is None
    assert coo_model.getOrDefault(
        coo_model.stdSelection
    ) == dense_model.getOrDefault(dense_model.stdSelection)

    # persistence round-trips the COO layout, and ranking() reads it
    path = str(tmp_path / "coo-model")
    coo_model.write().overwrite().save(path)
    loaded = ReliefFSelectorModel.load(path)
    assert loaded.getOrDefault(loaded.relevanceActiveIndices) == active
    got = loaded.ranking(spark).collect()
    want = dense_model.ranking(spark).collect()
    assert [r.asDict() for r in got] == [r.asDict() for r in want]

    # transform metadata still reports the declared width (it used to
    # come from len(relevanceWeights), which the COO layout leaves
    # empty — the width now falls back to relevanceNumFeatures)
    out_meta = (
        coo_model.transform(df).schema["selectedFeatures"].metadata
    )
    assert out_meta["num_original_features"] == d


def test_lsh_tables_param_reaches_the_fit(vec_df, tmp_path):
    """lshTables (0 = auto) persistence-round-trips and reaches
    fit_relief as the table-count override of the approximate tier."""
    est = ReliefFSelector(
        numTopFeatures=2, numNeighbors=3, estimationRatio=1.0,
        batchSize=1.0, knnStrategy="lsh", lshTables=4, seed=99,
    )
    path = str(tmp_path / "tables-est")
    est.write().overwrite().save(path)
    loaded = ReliefFSelector.load(path)
    assert loaded.getOrDefault(loaded.lshTables) == 4
    model = est.fit(vec_df)
    assert model.getOrDefault(model.resolvedKnnStrategy) == "lsh"
    assert len(model.getOrDefault(model.stdSelection)) == 2


def test_sparse_knn_probe_param_reaches_the_fit(spark, tmp_path):
    """sparseKnnProbe is ignored: the sparse route runs one exact kNN
    plan, so 'grid' and 'probe' fit the same selections as the default
    and record the same route. The Param stays declared so a saved
    selector or model that carries it still loads."""
    rng = np.random.default_rng(31)
    n, d = 60, 10
    X = rng.normal(loc=3.0, size=(n, d)).round(3)
    X[rng.random((n, d)) < 0.7] = 0.0
    y = (X[:, 0] > 0).astype(float)
    rows = [
        (
            Vectors.sparse(d, {j: X[i, j] for j in range(d) if X[i, j] != 0.0}),
            float(y[i]),
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, ["features", "label"])
    params = dict(
        numTopFeatures=3, numNeighbors=3, estimationRatio=1.0,
        batchSize=1.0, redundancyRemoval=False, seed=7,
    )
    m_auto = ReliefFSelector(**params).fit(df)
    for mode in ("grid", "probe"):
        m = ReliefFSelector(**params, sparseKnnProbe=mode).fit(df)
        assert m.getOrDefault(m.stdSelection) == m_auto.getOrDefault(m_auto.stdSelection)
        assert m.getOrDefault(m.resolvedKnnStrategy) == "sparse-inverted"
    assert m_auto.getOrDefault(m_auto.resolvedKnnStrategy) == "sparse-inverted"
    path = str(tmp_path / "probe-est")
    sel = ReliefFSelector(sparseKnnProbe="grid")
    sel.write().overwrite().save(path)
    loaded = ReliefFSelector.load(path)
    assert loaded.getOrDefault(loaded.sparseKnnProbe) == "grid"


def test_estimator_param_validation_fails_loudly(vec_df):
    """Typo'd enum / out-of-range Params raise a descriptive ValueError
    up front on BOTH routes (neither reaches fit_relief's own enum
    validation): no KeyError mid-fit, no silent no-op."""
    with pytest.raises(ValueError, match="sparseKnnProbe"):
        ReliefFSelector(
            numTopFeatures=2, numNeighbors=2, sparseKnnProbe="gird"
        ).fit(vec_df)
    with pytest.raises(ValueError, match="lshTables"):
        ReliefFSelector(
            numTopFeatures=2, numNeighbors=2, lshTables=-2
        ).fit(vec_df)


@pytest.fixture(scope="module")
def sparse_vec_df(spark):
    rng = np.random.default_rng(17)
    n, d = 60, 12
    X = rng.normal(loc=2.0, size=(n, d)).round(3)
    X[rng.random((n, d)) < 0.8] = 0.0
    y = (X[:, 0] > 0).astype(float)
    rows = [
        (Vectors.sparse(d, {j: X[i, j] for j in range(d) if X[i, j] != 0.0}), float(y[i]))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, ["features", "label"])


@pytest.mark.parametrize("route", ["dense", "sparse"])
@pytest.mark.parametrize(
    "param, value",
    [("samplingMode", "hsh"), ("knnStrategy", "nump"), ("batching", "rnd")],
)
def test_typoed_modes_fail_before_any_job(spark, vec_df, sparse_vec_df, route, param, value):
    """A typo'd samplingMode, knnStrategy or batching fails with a
    ValueError naming the value on BOTH routes — the sparse route
    checks the modes it does not consult too — before the sparsity
    sniff or any other Spark job."""
    df = vec_df if route == "dense" else sparse_vec_df
    sc = spark.sparkContext
    group = f"test-typoed-modes-{route}-{param}"
    sc.setJobGroup(group, "mode validation")
    try:
        with pytest.raises(ValueError, match=repr(value)):
            ReliefFSelector(numTopFeatures=2, numNeighbors=2, **{param: value}).fit(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


@pytest.mark.parametrize(
    "route, params, want",
    [
        ("dense", dict(knnStrategy="numpy"), "numpy"),
        ("dense", dict(knnStrategy="lsh"), "lsh"),
        ("dense", dict(knnStrategy="auto"), "numpy"),  # tiny data: exact tier
        ("sparse", dict(sparseKnnProbe="probe"), "sparse-inverted"),
        ("sparse", dict(sparseKnnProbe="grid"), "sparse-inverted"),
        ("sparse", dict(sparseKnnProbe="probe", batchSize=0.5), "sparse-inverted"),
    ],
)
def test_model_records_the_route_the_fit_ran(vec_df, sparse_vec_df, route, params, want):
    """resolvedKnnStrategy is the kNN route batch 0 ran: the resolved
    dense strategy, or the one sparse route whatever the ignored
    sparseKnnProbe says."""
    df = vec_df if route == "dense" else sparse_vec_df
    model = ReliefFSelector(
        **{
            **dict(
                numTopFeatures=2, numNeighbors=2, estimationRatio=1.0,
                batchSize=1.0, redundancyRemoval=False, seed=5,
            ),
            **params,
        }
    ).fit(df)
    assert model.getOrDefault(model.resolvedKnnStrategy) == want


def test_transform_slices_kddb_width_sparse_vectors(spark):
    """transform gathers the selected entries of sparse vectors without
    densifying them: at declared width 2^24 the fit and transform run
    and give the values of the same rows at a narrow width, and the
    plan holds no vector-to-array UDF over the input."""
    from pyspark.ml.linalg import SparseVector

    rng = np.random.default_rng(23)
    n, active = 40, 20
    X = rng.normal(loc=2.0, size=(n, active)).round(3)
    X[rng.random((n, active)) < 0.6] = 0.0
    y = (X[:, 3] > 0).astype(float)

    def frame(width):
        rows = [
            (SparseVector(width, {j: X[i, j] for j in range(active) if X[i, j] != 0.0}), float(y[i]))
            for i in range(n)
        ]
        return spark.createDataFrame(rows, ["features", "label"])

    params = dict(
        numTopFeatures=5, numNeighbors=3, estimationRatio=1.0,
        batchSize=1.0, redundancyRemoval=True, seed=9,
    )
    out = {}
    for width in (32, 1 << 24):
        df = frame(width)
        model = ReliefFSelector(**params).fit(df)
        t = model.transform(df)
        out[width] = (
            model.selected_indices(),
            [r["selectedFeatures"].toArray().tolist() for r in t.select("selectedFeatures").collect()],
        )
        plan = t._jdf.queryExecution().optimizedPlan().toString()
        assert "UDF(features" not in plan, plan
        assert "vector_to_array" not in plan, plan
    assert out[1 << 24] == out[32]
    assert any(any(v != 0.0 for v in row) for row in out[32][1])


@pytest.mark.parametrize(
    "route, match",
    [
        # the dense route's columns keep the user's names
        ("dense", r"fit_relief: 1 null 'y' value\(s\)"),
        ("sparse", r"fit_relief_sparse: 1 null 'label' value\(s\)"),
    ],
)
def test_failed_fit_leaves_nothing_cached(spark, route, match):
    """A fit that raises releases what it cached: the Estimator's own
    frame (``prepared`` on the dense route, ``base`` on the sparse
    one) and every batch cache of the engine. Seen before with one null
    label: the frame stayed in the session's cache manager."""
    rows = [
        (Vectors.dense([float(i % 3), float(i % 5), 1.0]), float(i % 2)) for i in range(30)
    ]
    rows.append((Vectors.dense([1.0, 2.0, 3.0]), None))
    if route == "sparse":
        rows = [(Vectors.sparse(3, {0: v[0] + 1.0, 2: v[2]}), y) for v, y in rows]
    df = spark.createDataFrame(rows, ["vec", "y"])
    # caches are transparent to results: empty the manager so the check
    # below sees only what this fit leaves behind
    spark.catalog.clearCache()
    manager = spark._jsparkSession.sharedState().cacheManager()
    assert manager.isEmpty()
    with pytest.raises(ValueError, match=match):
        ReliefFSelector(
            inputCol="vec", labelCol="y", numTopFeatures=2, numNeighbors=2,
            estimationRatio=1.0, batchSize=1.0,
        ).fit(df)
    assert manager.isEmpty()
